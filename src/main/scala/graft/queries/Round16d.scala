package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.DatasetSplit

/** Round-16 fourth batch: the curation-4 pipeline — the r16 operators
  * composed end to end the way a training-data run uses them:
  * duplicate-count sampling weights → leakage-free digest split →
  * per-(split, language) doc/token budget with duplication-corrected
  * (weighted) totals. All cross-row accumulation is INTEGER (ppm-scaled
  * weights), so the composed result replays bit-for-bit in DuckDB. */
object Round16d extends GateBatch {

  val defs: Map[String, Q] = Map(

    "pipeline_curation4" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // 1/multiplicity weights, ppm-scaled to exact integers
      val w = Dedup.dupWeights(docs, "doc_id", "text")
        .select(col("id"),
          floor(col("weight") * 1e6 + 0.5).cast("long").as("__wppm"))
      val assign = DatasetSplit.byDigest(docs, "doc_id", "text",
        Round16c.SplitTrainPct, Round16c.SplitValPct)
      val nTok = when(length(trim(col("text"))) > 0,
        size(split(trim(col("text")), "\\s+")).cast("long")).otherwise(0L)
      docs.select(col("doc_id").as("id"), col("lang"), nTok.as("__tok"))
        .join(assign.select("id", "split"), "id")
        .join(w, "id")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("__tok").as("n_tokens"),
          sum("__wppm").as("w_docs_ppm"),
          sum(col("__wppm") * col("__tok")).as("w_tokens_ppm"))
        .orderBy("split", "lang")
    }))

  val oracles: Map[String, String] = Map(

    "pipeline_curation4" ->
      """WITH k AS (SELECT doc_id AS id, lang, text,
           md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))), ' ')) AS dedup_key
           FROM documents),
         g AS (SELECT dedup_key, count(*)::BIGINT AS n_docs
           FROM k GROUP BY dedup_key),
         w AS (SELECT k.id,
             CAST(floor(floor(1000000.0 / g.n_docs + 0.5) + 0.5)
               AS BIGINT) AS wppm
           FROM k JOIN g USING (dedup_key)),
         a AS (SELECT id,
           CASE WHEN CAST(('0x' || substr(dedup_key, 1, 8)) AS BIGINT)
               % 100 < 80 THEN 'train'
             WHEN CAST(('0x' || substr(dedup_key, 1, 8)) AS BIGINT)
               % 100 < 90 THEN 'val'
             ELSE 'test' END AS split FROM k),
         t AS (SELECT id, lang,
             CASE WHEN length(trim(text)) > 0
               THEN len(regexp_split_to_array(trim(text), '\s+'))
               ELSE 0 END::BIGINT AS tok
           FROM k)
         SELECT a.split, t.lang, count(*)::BIGINT AS n_docs,
           sum(t.tok)::BIGINT AS n_tokens,
           CAST(sum(w.wppm) AS BIGINT) AS w_docs_ppm,
           CAST(sum(w.wppm * t.tok) AS BIGINT) AS w_tokens_ppm
         FROM t JOIN a USING (id) JOIN w USING (id)
         GROUP BY a.split, t.lang ORDER BY a.split, t.lang""")
}
