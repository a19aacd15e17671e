package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.textanalysis.TextAnalysis

/** Round-15 third batch: two corpus-curation measures —
  * quality-argmax exact dedup (keep the BEST copy, not the first) and
  * the vocabulary-growth (Heaps-law) curve along a seeded shuffle
  * order, computed without any global sort. */
object Round15c extends GateBatch {

  private val VocabSeed = "s15-vocab"
  private[graft] val VocabPcts = Seq(0.01, 0.05, 0.1, 0.25, 0.5, 1.0)

  val defs: Map[String, Q] = Map(

    // exact dedup keeping the highest-n_chars copy per word-set digest
    // (min id on ties): the refinement of dedup_exact once a quality
    // signal exists — same single map-side-combined shuffle, the
    // argmax rides the count aggregate as a max-of-struct
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.exactKeepBest(tbl(s, dir, "documents"), "doc_id", "text",
          col("n_chars"))
        .orderBy("dedup_key")),

    // Heaps-law vocabulary growth along the seeded md5 shuffle order:
    // "the first p% of the shuffled corpus" is "docs with hash below
    // p*2^32" (position is monotone in the hash), so the whole curve
    // is one doc-level conditional-sum pass + one grouped min over
    // the exploded tokens — no rank window, no global sort
    "text_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(tbl(s, dir, "documents"), "doc_id",
        "text", VocabSeed, VocabPcts)))

  val oracles: Map[String, String] = Map(

    "dedup_keep_best" ->
      """WITH scored AS (SELECT doc_id, n_chars,
             md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(trim(text), '\s+'))), ' '))
               AS dedup_key
           FROM documents),
         win AS (SELECT dedup_key, doc_id, n_chars, row_number() OVER
             (PARTITION BY dedup_key
              ORDER BY n_chars DESC, doc_id) AS rn
           FROM scored),
         tot AS (SELECT dedup_key, count(*)::BIGINT AS n_docs
           FROM scored GROUP BY dedup_key)
         SELECT w.dedup_key, w.doc_id::BIGINT AS keep_id,
           w.n_chars::DOUBLE AS keep_score, t.n_docs
         FROM win w JOIN tot t USING (dedup_key)
         WHERE w.rn = 1 ORDER BY dedup_key""",

    "text_vocab_growth" -> {
      val cutoffs = VocabPcts.sorted.map(p =>
        p -> math.floor(p * 4294967296.0).toLong)
      val pctList = cutoffs.map(_._1).mkString(", ")
      val cutList = cutoffs.map(_._2).mkString(", ")
      s"""WITH d AS (SELECT
             CAST(('0x' || substr(md5('$VocabSeed' || '|'
               || doc_id::VARCHAR), 1, 8)) AS BIGINT) AS h,
             CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
               THEN trim(text) END AS t
           FROM documents WHERE doc_id IS NOT NULL),
         p AS (SELECT unnest([$pctList]::DOUBLE[]) AS pct,
             unnest([$cutList]::BIGINT[]) AS cutoff),
         da AS (SELECT pct, cutoff,
             sum(CASE WHEN h < cutoff THEN 1 ELSE 0 END)::BIGINT AS docs,
             sum(CASE WHEN h < cutoff AND t IS NOT NULL
               THEN len(regexp_split_to_array(t, '\\s+'))
               ELSE 0 END)::BIGINT AS tokens
           FROM d CROSS JOIN p GROUP BY pct, cutoff),
         tm AS (SELECT tok, min(h) AS mh
           FROM (SELECT h, unnest(regexp_split_to_array(t, '\\s+'))
               AS tok
             FROM d WHERE t IS NOT NULL)
           GROUP BY tok),
         va AS (SELECT pct,
             sum(CASE WHEN mh < cutoff THEN 1 ELSE 0 END)::BIGINT
               AS vocab
           FROM tm CROSS JOIN p GROUP BY pct, cutoff)
         SELECT da.pct, da.cutoff, da.docs, da.tokens, va.vocab
         FROM da JOIN va USING (pct) ORDER BY pct"""
    })
}
