package graft.queries

import org.apache.spark.sql.functions._
import graft.textanalysis.BpeTrain

/** Round-9 tokenizer-training gates: distributed BPE merge learning and
  * the inference-side segmentation, both replayed end-to-end by DuckDB
  * oracles GENERATED from the same merge count — each merge step is a
  * pair-count CTE + argmax CTE + a recursive leftmost-apply CTE (the
  * iterated leftmost replace is exactly the greedy left-to-right fold
  * the Spark side runs; equivalence asserted in BpeTrainSpec).
  */
object Round9 extends GateBatch {
  type Q = (org.apache.spark.sql.SparkSession, String) =>
    org.apache.spark.sql.DataFrame

  /** Merge-step count shared by the Spark queries and the generated
    * oracle SQL so the two sides cannot drift. */
  private[queries] val BpeMerges = 8

  val defs: Map[String, Q] = Map(
    // corpus-scale word count once, then every iteration runs on the
    // unique-word table: pair partial-agg + 1-row argmax + pure-map
    // fold — the tokenizer-training loop at 100 TB
    "text_bpe_train" -> ((s, dir) =>
      BpeTrain.trainMerges(tbl(s, dir, "documents"), "text", BpeMerges)
        .orderBy("step")),

    // segmentation with the learned merges is a pure map over the
    // corpus; on the unique-word table it must equal the final training
    // vocabulary state, which the oracle's CTE chain reproduces
    "text_bpe_segment" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val merges = BpeTrain.trainMerges(docs, "text", BpeMerges)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val words = docs
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0).distinct()
      BpeTrain.segment(words, "w", merges)
        .select(col("w").as("word"),
          array_join(col("bpe_tokens"), " ").as("seg"))
        .orderBy("word")
    }))

  /** The shared CTE chain: vocabulary v0, then per step k the pair
    * counts p_k, argmax b_k, and recursive leftmost-apply r_k → v_k. */
  private[queries] def bpeCtes(n: Int): String = {
    val stages = (1 to n).map { k =>
      s"""p$k AS MATERIALIZED (SELECT p[1] AS a, p[2] AS b, sum(freq) AS cnt
           FROM (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS p,
               freq
             FROM (SELECT string_split(seq, ' ') AS l, freq
               FROM v${k - 1}) t0) t
           GROUP BY 1, 2),
         b$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         r$k AS (
           SELECT ' ' || seq || ' ' AS s, freq FROM v${k - 1}
           UNION ALL
           SELECT substr(s, 1, strpos(s, pat) - 1) || rep ||
               substr(s, strpos(s, pat) + length(pat)) AS s, freq
           FROM (SELECT s, freq,
               (SELECT ' ' || a || ' ' || b || ' ' FROM b$k) AS pat,
               (SELECT ' ' || a || b || ' ' FROM b$k) AS rep FROM r$k) t
           WHERE strpos(s, pat) > 0),
         v$k AS MATERIALIZED (SELECT trim(s) AS seq, freq FROM r$k
           WHERE strpos(s,
             (SELECT ' ' || a || ' ' || b || ' ' FROM b$k)) = 0)"""
    }
    s"""WITH RECURSIVE w AS (SELECT
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         FROM documents WHERE length(trim(text)) > 0),
       v0 AS MATERIALIZED (SELECT array_to_string(string_split(w, ''), ' ') AS seq,
           count(*)::BIGINT AS freq
         FROM w WHERE length(w) > 0 GROUP BY 1),
       ${stages.mkString(",\n       ")}"""
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_train" -> (bpeCtes(BpeMerges) + " " +
      (1 to BpeMerges).map(k =>
        s"""SELECT $k AS step, a AS lhs, b AS rhs, a || b AS merged,
           cnt::BIGINT AS cnt FROM b$k""")
        .mkString("(", ") UNION ALL (", ") ORDER BY step")),
    "text_bpe_segment" -> (bpeCtes(BpeMerges) +
      s""" SELECT replace(seq, ' ', '') AS word, seq AS seg
         FROM v$BpeMerges ORDER BY word"""))
}
