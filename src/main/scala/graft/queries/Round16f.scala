package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Dsir, Privacy}
import graft.textanalysis.{BpeTrain, TokenizerFertility}

/** Round-16 sixth batch: the audits AROUND the selection tier —
  * tokenizer fertility per language (is the tokenizer fair to every
  * language in the mix?), the DSIR paper's own KL-reduction check (did
  * importance resampling actually move the corpus toward the target?),
  * and a k-anonymity/l-diversity privacy audit (what would a release
  * have to suppress?). Fixed-point longs everywhere a row count can
  * grow; every gate replays exactly in DuckDB. */
object Round16f extends GateBatch {

  /** k-anonymity threshold for the privacy gate. */
  private val AnonK = 10L

  val defs: Map[String, Q] = Map(

    // per-language BPE fertility/compression: segmentation runs once
    // per UNIQUE word, ratios are ppm floor-divisions of exact longs
    "text_tokenizer_fertility" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val merges = BpeTrain.trainMerges(docs, "text", Round9.BpeMerges)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TokenizerFertility.perLang(docs, "text", "lang", merges)
        .orderBy("lang")
    }),

    // KL(target||selected) vs KL(target||pool) over the hashed-unigram
    // buckets — the DSIR selection-quality metric, one summary row
    "audit_dsir_kl" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val isTgt = col("lang") === "en"
      val sel = Dsir.gumbelTopK(
        Dsir.importanceWeights(docs, "doc_id", "text", isTgt,
          buckets = 2048), k = 100).select("id")
      Dsir.klReduction(docs, "doc_id", "text", isTgt, sel,
        buckets = 2048)
    }),

    // k-anonymity + l-diversity over (nation, segment) classes with
    // account-balance sign as the sensitive attribute
    "audit_k_anonymity" -> ((s, dir) =>
      Privacy.kAnonymity(tbl(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        sensitive = when(col("c_acctbal") < 0, "neg").otherwise("nonneg"),
        k = AnonK)))

  val oracles: Map[String, String] = Map(

    "text_tokenizer_fertility" -> (Round9.bpeCtes(Round9.BpeMerges) +
      s""", segw AS (SELECT replace(seq, ' ', '') AS w,
           len(string_split(seq, ' '))::BIGINT AS nbpe
         FROM v${Round9.BpeMerges}),
       wl AS (SELECT lang,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         FROM documents
         WHERE text IS NOT NULL AND length(trim(text)) > 0
           AND lang IS NOT NULL),
       cnt AS (SELECT lang, w, count(*)::BIGINT AS occ
         FROM wl WHERE length(w) > 0 GROUP BY 1, 2),
       j AS (SELECT lang, occ, nbpe, length(w)::BIGINT AS nch,
           octet_length(encode(w))::BIGINT AS nby
         FROM cnt JOIN segw USING (w))
       SELECT lang, sum(occ)::BIGINT AS n_words,
         sum(occ * nbpe)::BIGINT AS n_bpe_tokens,
         sum(occ * nch)::BIGINT AS n_chars,
         sum(occ * nby)::BIGINT AS n_bytes,
         CAST((sum(occ * nbpe)::BIGINT * 1000000) // sum(occ)::BIGINT
           AS BIGINT) AS fertility_ppm,
         CAST((sum(occ * nch)::BIGINT * 1000000)
           // sum(occ * nbpe)::BIGINT AS BIGINT) AS chars_per_token_ppm,
         CAST((sum(occ * nby)::BIGINT * 1000000)
           // sum(occ * nbpe)::BIGINT AS BIGINT) AS bytes_per_token_ppm
       FROM j GROUP BY lang ORDER BY lang"""),

    "audit_dsir_kl" -> {
      val B = 2048
      s"""WITH d AS (SELECT doc_id AS id, lang = 'en' AS t,
           regexp_split_to_array(trim(text), '\\s+') AS arr
         FROM documents
         WHERE text IS NOT NULL AND length(trim(text)) > 0),
       toks AS (SELECT id, t,
           CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % $B AS b
         FROM (SELECT id, t, unnest(arr) AS w FROM d)),
       cnt0 AS (SELECT b,
           sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS tc,
           count(*)::BIGINT AS rc
         FROM toks GROUP BY b),
       tot0 AS (SELECT sum(tc)::BIGINT AS tt, sum(rc)::BIGINT AS rt
         FROM cnt0),
       lr AS (SELECT b,
           CAST(floor(ln(((tc + 1)::DOUBLE * (rt + $B)::DOUBLE) /
               ((rc + 1)::DOUBLE * (tt + $B)::DOUBLE)) * 1000000 + 0.5)
             AS BIGINT) AS lrp
         FROM cnt0, tot0),
       w AS (SELECT toks.id, count(*)::BIGINT AS n_tokens,
           sum(lr.lrp)::BIGINT AS logw_ppm
         FROM toks JOIN lr USING (b) GROUP BY toks.id),
       selids AS (SELECT id FROM (SELECT id,
             logw_ppm + CAST(floor(-ln(-ln(
                 ((CAST(('0x' || substr(md5('g|' || id::VARCHAR), 1, 8))
                     AS BIGINT) % 1048576)::DOUBLE + 0.5) / 1048576.0))
               * 1000000 + 0.5) AS BIGINT) AS key_ppm
           FROM w)
         ORDER BY key_ppm DESC, id LIMIT 100),
       cnt AS (SELECT b,
           sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS tc,
           count(*)::BIGINT AS pc,
           sum(CASE WHEN id IN (SELECT id FROM selids) THEN 1 ELSE 0
             END)::BIGINT AS sc
         FROM toks GROUP BY b),
       tot AS (SELECT sum(tc)::BIGINT AS tt, sum(pc)::BIGINT AS pt,
           sum(sc)::BIGINT AS st, count(*)::BIGINT AS nobs
         FROM cnt),
       obs AS (SELECT
           sum(CAST(floor(((tc + 1)::DOUBLE / (tt + $B)::DOUBLE) *
               ln(((tc + 1)::DOUBLE * (st + $B)::DOUBLE) /
                 ((sc + 1)::DOUBLE * (tt + $B)::DOUBLE))
               * 1000000000000 + 0.5) AS BIGINT))::BIGINT AS os,
           sum(CAST(floor(((tc + 1)::DOUBLE / (tt + $B)::DOUBLE) *
               ln(((tc + 1)::DOUBLE * (pt + $B)::DOUBLE) /
                 ((pc + 1)::DOUBLE * (tt + $B)::DOUBLE))
               * 1000000000000 + 0.5) AS BIGINT))::BIGINT AS op
         FROM cnt, tot),
       fin AS (SELECT $B AS buckets,
           (os + ($B - nobs) * CAST(floor((1.0 / (tt + $B)::DOUBLE) *
               ln((st + $B)::DOUBLE / (tt + $B)::DOUBLE)
               * 1000000000000 + 0.5) AS BIGINT))::BIGINT AS kl_sel_e12,
           (op + ($B - nobs) * CAST(floor((1.0 / (tt + $B)::DOUBLE) *
               ln((pt + $B)::DOUBLE / (tt + $B)::DOUBLE)
               * 1000000000000 + 0.5) AS BIGINT))::BIGINT AS kl_pool_e12
         FROM obs, tot)
       SELECT buckets, kl_sel_e12, kl_pool_e12,
         floor(kl_sel_e12::DOUBLE / kl_pool_e12::DOUBLE * 1000000 + 0.5)
           / 1000000 AS kl_ratio
       FROM fin"""
    },

    "audit_k_anonymity" ->
      s"""WITH cls AS (SELECT c_nationkey, c_mktsegment,
           count(*)::BIGINT AS cs,
           count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
             ELSE 'nonneg' END)::BIGINT AS ld
         FROM customer GROUP BY 1, 2)
       SELECT count(*)::BIGINT AS n_classes, sum(cs)::BIGINT AS n_rows,
         sum(CASE WHEN cs < $AnonK THEN 1 ELSE 0 END)::BIGINT
           AS classes_below_k,
         sum(CASE WHEN cs < $AnonK THEN cs ELSE 0 END)::BIGINT
           AS rows_below_k,
         min(cs)::BIGINT AS min_class_size,
         min(ld)::BIGINT AS min_l_diversity,
         CAST((sum(CASE WHEN cs < $AnonK THEN cs ELSE 0 END)::BIGINT
           * 1000000) // sum(cs)::BIGINT AS BIGINT) AS suppressed_ppm
       FROM cls""")
}
