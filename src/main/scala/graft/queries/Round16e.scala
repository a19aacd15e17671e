package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dsir
import graft.textanalysis.PerplexityBuckets

/** Round-16 fifth batch: the paper-backed DATA-SELECTION tier — the
  * step between "the corpus is clean" and "this is the corpus we
  * train on": DSIR hashed-n-gram importance weights (Xie et al. 2023),
  * deterministic Gumbel top-k importance resampling over those
  * weights, and CCNet head/middle/tail perplexity triage per language
  * (Wenzek et al. 2020). All cross-row accumulation is ppm/1e-4
  * fixed-point, so every gate replays exactly in DuckDB. */
object Round16e extends GateBatch {

  /** Feature buckets for the hashed bag-of-words models. */
  private val DsirBuckets = 2048

  /** Resample size for the Gumbel top-k gate. */
  private val DsirK = 100

  /** Shared oracle CTEs: per-doc DSIR importance log-weights in ppm
    * integers, target = English docs, raw = the whole pool. `src` is
    * any relation with (doc_id, lang, text) — the corpus the model
    * fits on AND scores. `p` prefixes every CTE name (the weights land
    * in `${p}w`) so the chain composes with oracle chains that already
    * define `d`/`toks`/... (pipeline_curation7 stacks it on the
    * ExactSubstr CTEs). */
  private[queries] def dsirWeightCtes(src: String = "documents",
                                      p: String = ""): String =
    s"""${p}d AS (SELECT doc_id AS id, lang = 'en' AS t,
           regexp_split_to_array(trim(text), '\\s+') AS arr
         FROM $src
         WHERE text IS NOT NULL AND length(trim(text)) > 0),
       ${p}toks AS (SELECT id, t,
           CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % $DsirBuckets
             AS b
         FROM (SELECT id, t, unnest(arr) AS w FROM ${p}d)),
       ${p}cnt AS (SELECT b,
           sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS tc,
           count(*)::BIGINT AS rc
         FROM ${p}toks GROUP BY b),
       ${p}tot AS (SELECT sum(tc)::BIGINT AS tt, sum(rc)::BIGINT AS rt
         FROM ${p}cnt),
       ${p}lr AS (SELECT b,
           CAST(floor(ln(((tc + 1)::DOUBLE * (rt + $DsirBuckets)::DOUBLE) /
               ((rc + 1)::DOUBLE * (tt + $DsirBuckets)::DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS lrp
         FROM ${p}cnt, ${p}tot),
       ${p}w AS (SELECT t0.id, bool_or(t0.t) AS is_target,
           count(*)::BIGINT AS n_tokens,
           sum(l0.lrp)::BIGINT AS logw_ppm
         FROM ${p}toks t0 JOIN ${p}lr l0 USING (b) GROUP BY t0.id)"""

  val defs: Map[String, Q] = Map(

    // DSIR (Xie et al. 2023): hashed-unigram target-vs-pool importance
    // log-weights, target = the English slice; per-bucket log-ratios
    // fixed-pointed to ppm so the per-doc sums are exact longs — one
    // model aggregation, one broadcast-join scoring pass
    "curate_dsir_weights" -> ((s, dir) =>
      Dsir.importanceWeights(tbl(s, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "en", buckets = DsirBuckets)
        .orderBy("id")),

    // Gumbel top-k importance resampling over the DSIR weights: key =
    // logw + Gumbel(0,1) from a deterministic md5 uniform, k largest
    // keys win — plans as TakeOrderedAndProject, no global sort
    "sample_importance" -> ((s, dir) =>
      Dsir.gumbelTopK(
          Dsir.importanceWeights(tbl(s, dir, "documents"), "doc_id",
            "text", isTarget = col("lang") === "en",
            buckets = DsirBuckets),
          k = DsirK)
        .orderBy(col("key_ppm").desc, col("id"))),

    // CCNet (Wenzek et al. 2020) perplexity triage: per-language
    // unigram LM score, EXACT per-language terciles, head/middle/tail
    // doc+token counts and the score span each bucket covers
    "curate_ccnet_buckets" -> ((s, dir) =>
      PerplexityBuckets.summary(tbl(s, dir, "documents"), "doc_id",
          "text", "lang")
        .orderBy("lang", "bucket")))

  val oracles: Map[String, String] = Map(

    "curate_dsir_weights" ->
      s"""WITH ${dsirWeightCtes()}
         SELECT id, is_target, n_tokens, logw_ppm FROM w ORDER BY id""",

    "sample_importance" ->
      s"""WITH ${dsirWeightCtes()}, $gumbelKeyedCte
         SELECT id, is_target, n_tokens, logw_ppm, key_ppm FROM keyed
         ORDER BY key_ppm DESC, id LIMIT $DsirK""",

    "curate_ccnet_buckets" ->
      s"""WITH $ccnetAssignCtes
       SELECT lang, bucket, count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS n_tokens,
         min(alp) AS lp_min, max(alp) AS lp_max
       FROM cb GROUP BY 1, 2 ORDER BY 1, 2""")

  /** Gumbel top-k key over the `${p}w` weights CTE — the deterministic
    * md5-uniform draw [[graft.operators.Dsir.gumbelTopK]] replays. */
  private[queries] def gumbelKeyedCte: String = gumbelKeyedCtePfx("")

  private[queries] def gumbelKeyedCtePfx(p: String): String =
    s"""${p}keyed AS (SELECT id, is_target, n_tokens, logw_ppm,
         logw_ppm + CAST(floor(-ln(-ln(
             ((CAST(('0x' || substr(md5('g|' || id::VARCHAR), 1, 8))
                 AS BIGINT) % 1048576)::DOUBLE + 0.5) / 1048576.0))
           * 1000000 + 0.5) AS BIGINT) AS key_ppm
       FROM ${p}w)"""

  /** Shared oracle CTEs for the CCNet triage: per-doc
    * (id, lang, n_tokens, alp, bucket) in `cb`. CTE names carry a
    * c-prefix so the chain composes with [[dsirWeightCtes]]. */
  private[queries] def ccnetAssignCtes: String =
    """cd AS (SELECT doc_id AS id, lang,
           regexp_split_to_array(trim(text), '\s+') AS arr
         FROM documents
         WHERE text IS NOT NULL AND length(trim(text)) > 0
           AND lang IS NOT NULL),
       ctoks AS (SELECT id, lang, unnest(arr) AS w FROM cd),
       cmodel AS (SELECT lang, w, count(*)::BIGINT AS c
         FROM ctoks GROUP BY 1, 2),
       cstats AS (SELECT lang, sum(c)::BIGINT AS tt,
           count(*)::BIGINT AS vv
         FROM cmodel GROUP BY 1),
       clp AS (SELECT lang, w,
           CAST(floor(ln((c + 1)::DOUBLE / (tt + vv)::DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS lpe6
         FROM cmodel JOIN cstats USING (lang)),
       csc AS (SELECT id, t.lang, count(*)::BIGINT AS n_tokens,
           floor(sum(clp.lpe6)::DOUBLE / (count(*) * 100)::DOUBLE + 0.5)
             / 10000 AS alp
         FROM ctoks t JOIN clp USING (lang, w) GROUP BY 1, 2),
       ccuts AS (SELECT lang,
           floor(quantile_cont(alp, 1.0/3.0) * 10000 + 0.5) / 10000
             AS q33,
           floor(quantile_cont(alp, 2.0/3.0) * 10000 + 0.5) / 10000
             AS q67
         FROM csc GROUP BY 1),
       cb AS (SELECT csc.id, csc.lang, csc.n_tokens, csc.alp,
           CASE WHEN csc.alp > ccuts.q67 THEN 'head'
             WHEN csc.alp > ccuts.q33 THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM csc JOIN ccuts USING (lang))"""
}
