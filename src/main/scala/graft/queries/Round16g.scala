package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Curriculum, Dsir}
import graft.textanalysis.{PerplexityBuckets, TextAnalysis}

/** Round-16 seventh batch: scheduling and the round's end-to-end
  * composition — band-interleaved curriculum ordering (both ranks on
  * the laned prefix machinery, no one-task window), and
  * pipeline_curation5: CCNet triage → drop the tail → refit DSIR on
  * the survivors → Gumbel top-k selection → per-(lang, bucket)
  * selection accounting, every stage exactly replayable. */
object Round16g extends GateBatch {

  /** Difficulty bands for the curriculum gate. */
  private val CurriculumBands = 4

  /** Selection size for pipeline_curation5. */
  private val Curation5K = 150

  val defs: Map[String, Q] = Map(

    // equi-depth difficulty bands off the GLOBAL laned percent-rank,
    // band-local progress off the grouped one; schedule order is
    // (within_pct, band) — easy rows of every band first
    "curate_curriculum" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      Curriculum.interleave(docs, "quality", CurriculumBands)
        .select("doc_id", "quality", "band", "within_pct")
        .orderBy("doc_id")
    }),

    // the round's operators composed the way a curation run chains
    // them: perplexity triage keeps head+middle, DSIR refits on the
    // survivors, Gumbel top-k picks the training slice, and the
    // output books what was selected per (lang, triage bucket)
    "pipeline_curation5" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val assigned = PerplexityBuckets.assign(
        PerplexityBuckets.perLangLogprob(docs, "doc_id", "text", "lang"))
      val keep = assigned.where(col("bucket") =!= "tail")
      val surv = docs.join(
        keep.select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
      val sel = Dsir.gumbelTopK(
        Dsir.importanceWeights(surv, "doc_id", "text",
          col("lang") === "en", buckets = 2048), k = Curation5K)
      sel.join(keep.select("id", "lang", "bucket"), Seq("id"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("logw_ppm").as("logw_ppm"))
        .orderBy("lang", "bucket")
    }))

  val oracles: Map[String, String] = Map(

    "curate_curriculum" ->
      s"""WITH ${Analytics7.QualitySql},
         nn AS (SELECT doc_id, quality FROM q
           WHERE quality IS NOT NULL),
         r AS (SELECT doc_id, quality,
             least(floor(percent_rank() OVER (ORDER BY quality)
               * $CurriculumBands), ${CurriculumBands - 1})::INT AS band
           FROM nn),
         wr AS (SELECT doc_id, quality, band,
             floor(percent_rank() OVER (PARTITION BY band
               ORDER BY quality) * 1000000 + 0.5) / 1000000
               AS within_pct
           FROM r)
         SELECT doc_id, quality, band, within_pct FROM wr
         ORDER BY doc_id""",

    "pipeline_curation5" ->
      s"""WITH ${Round16e.ccnetAssignCtes},
         surv AS (SELECT d0.doc_id, d0.lang, d0.text
           FROM documents d0 JOIN cb ON cb.id = d0.doc_id
           WHERE cb.bucket <> 'tail'),
         ${Round16e.dsirWeightCtes("surv")},
         ${Round16e.gumbelKeyedCte},
         sel AS (SELECT id, n_tokens, logw_ppm FROM keyed
           ORDER BY key_ppm DESC, id LIMIT $Curation5K)
         SELECT cb.lang, cb.bucket, count(*)::BIGINT AS n_docs,
           sum(sel.n_tokens)::BIGINT AS n_tokens,
           sum(sel.logw_ppm)::BIGINT AS logw_ppm
         FROM sel JOIN cb USING (id)
         GROUP BY 1, 2 ORDER BY 1, 2""")
}
