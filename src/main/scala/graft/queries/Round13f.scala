package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.{NgramSpans, SortedNeighborhood}
import graft.similarity.{ScalarQuantizer, Similarity}

/** Round-13 sixth batch: the cross-doc substring-dedup signal (Lee et
  * al. n-gram spans + coverage), sorted-neighborhood blocking, and the
  * SQ8 rung of the compressed-ANN ladder. */
object Round13f extends GateBatch {

  /** n-gram order for the span gates — 4 keeps the duplicated-gram
    * set real but bounded on the synthetic corpus. */
  private val N = 4

  /** SNM window (compare with 2 successors) and verify threshold. */
  private val SnmWindow = 3
  private val SnmMinJaccard = 0.5

  val defs: Map[String, Q] = Map(

    // maximal cross-doc duplicated token spans — gram arithmetic on
    // the scan, ONE grouped agg for the dup set, islands per doc
    "dedup_ngram_spans" -> ((s, dir) =>
      NgramSpans.spans(tbl(s, dir, "documents"), "doc_id", "text", N)
        .orderBy("doc_id", "span_start")),

    // per-doc duplicated-token coverage — the "mostly boilerplate" cut
    "dedup_span_coverage" -> ((s, dir) =>
      NgramSpans.coverage(tbl(s, dir, "documents"), "doc_id", "text", N)
        .orderBy("doc_id")),

    // sorted-neighborhood blocking: block on the first token, sort by
    // the text, compare each record with its 2 successors — one window
    // + lead(), no self-join, exact Jaccard only on neighbors
    "dedup_sorted_neighborhood" -> ((s, dir) => {
      val first = element_at(split(trim(col("text")), "\\s+"), 1)
      SortedNeighborhood.pairs(tbl(s, dir, "documents"), "doc_id",
        "text", first, trim(col("text")), SnmWindow, SnmMinJaccard)
        .orderBy("id_a", "id_b")
    }),

    // SQ8 two-stage retrieval: int8 codes rank a 300-candidate pool
    // (approximate dot with the dequantization folded into literal
    // weights), floats rescore only the pool — with this headroom the
    // result IS brute-force top-10, which is what the oracle checks
    "sim_ann_sq8" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(Similarity.toVec(col("embedding")))
        .head().getSeq[Double](0)
      val model = ScalarQuantizer.fit(emb, "embedding", 64)
      val encoded = ScalarQuantizer.encode(emb, "vec_id", "embedding",
        model)
      ScalarQuantizer.sqRescoreTopK(encoded, emb, "vec_id", "embedding",
        model, qv, candidates = 300, k = 10)
        .withColumn("sim", col("sim") + lit(0.0))
    }))

  /** Shared CTE chain for the span gates: grams -> cross-doc dup set
    * -> hit intervals -> merged islands. */
  private def spanCtes: String =
    s"""d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
           AS arr
         FROM documents
         WHERE text IS NOT NULL AND length(trim(text)) > 0
           AND doc_id IS NOT NULL),
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
         FROM isl)"""

  val oracles: Map[String, String] = Map(

    "dedup_ngram_spans" ->
      s"""WITH $spanCtes
         SELECT doc_id, min(s)::BIGINT AS span_start,
           max(e)::BIGINT AS span_end,
           (max(e) - min(s) + 1)::BIGINT AS span_tokens
         FROM grp GROUP BY doc_id, gid
         ORDER BY doc_id, span_start""",

    "dedup_span_coverage" ->
      s"""WITH $spanCtes,
         sp AS (SELECT doc_id, max(e) - min(s) + 1 AS st
           FROM grp GROUP BY doc_id, gid),
         per AS (SELECT doc_id, sum(st)::BIGINT AS dup_tokens
           FROM sp GROUP BY doc_id),
         docs AS (SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
               AS n_tokens
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0
             AND doc_id IS NOT NULL)
         SELECT doc_id, n_tokens,
           coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
           floor(coalesce(dup_tokens, 0)::DOUBLE / n_tokens::DOUBLE
             * 1000000 + 0.5) / 1000000 AS dup_frac
         FROM docs LEFT JOIN per USING (doc_id) ORDER BY doc_id""",

    "dedup_sorted_neighborhood" ->
      s"""WITH d AS (SELECT doc_id, trim(text) AS t,
             list_sort(list_distinct(
               regexp_split_to_array(trim(text), '\\s+'))) AS st,
             regexp_extract(trim(text), '^[^ ]+') AS blk
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0
             AND doc_id IS NOT NULL),
         r AS (SELECT *, row_number() OVER
             (PARTITION BY blk ORDER BY t, doc_id) AS rn
           FROM d),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.st, b.st)) AS i,
             len(a.st) + len(b.st) - len(list_intersect(a.st, b.st))
               AS u
           FROM r a JOIN r b ON a.blk = b.blk
             AND b.rn - a.rn BETWEEN 1 AND ${SnmWindow - 1}),
         j AS (SELECT id_a, id_b,
             floor(i::DOUBLE / u::DOUBLE * 1000000 + 0.5) / 1000000
               AS jaccard
           FROM p)
         SELECT id_a, id_b, jaccard FROM j
         WHERE jaccard >= $SnmMinJaccard
         ORDER BY id_a, id_b""",

    // the 300-candidate pool dwarfs k=10 and SQ8 error is <= step/2
    // per dim: two-stage SQ8 retrieval is exact brute-force top-k
    "sim_ann_sq8" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0
             AS sim
         FROM embeddings, q
         ORDER BY sim DESC, vec_id LIMIT 10""")
}
