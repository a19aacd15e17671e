package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.Dsir
import graft.textanalysis.TextAnalysis

/** Round-18 batch: winnowed-minimizer ExactSubstr dedup (the shuffle
  * diet for the round-17 gram chain), JPEG corruption tolerance, and
  * the composed curation capstone (exact-substr cut → near-dup →
  * importance selection — the Lee et al. 2107.06499 pipeline order). */
object Round18 extends GateBatch {

  /** The paper's threshold: 50 characters (same as round 17). */
  private val SubstrMinLen = 50

  /** Minimizer k-gram length: w = 50 - 8 + 1 = 43, selection density
    * ~2/(w+1) ≈ 4.5% of char positions. */
  private val MinimizerK = 8

  /** Selection size for pipeline_curation7 (distinct from
    * sample_importance's 100 and curation5's 150). */
  private val Curation7K = 120

  val defs: Map[String, Q] = Map(

    // winnowed ExactSubstr: same semantics, same output, the gram
    // shuffles cut ~w/2x by minimizer pre-selection; the oracle is the
    // SAME full-chain DuckDB replay as dedup_exact_substr because the
    // minimized chain is output-identical by the winnowing guarantee
    "dedup_exact_substr_min" -> ((s, dir) =>
      TextAnalysis.exactSubstrDedupMinimized(tbl(s, dir, "documents"),
          "doc_id", "text", minLen = SubstrMinLen, k = MinimizerK)
        .orderBy("doc_id")),

    // JPEG corruption tolerance (the xls-tier contract for the lossy
    // image tier): per id the REAL JPEG bytes are corrupted through
    // three deterministically-failing classes (no-magic, garbage,
    // header-only) — corrupt rows book ok=false with null features,
    // intact rows replay dims + dHash from the fixture formula, and
    // no payload ever throws a task
    "mm_jpeg_tolerance" -> ((s, dir) =>
      Multimodal.jpegDHashesTolerant(tbl(s, dir, "documents"), "doc_id",
          quality = 0.9f)
        .toDF().orderBy("doc_id")),

    // the Lee et al. (2107.06499) curation order, composed end to end:
    // exact-substr cut (winnowed chain) -> MinHash/LSH near-dup keep
    // decision ON THE CLEANED TEXT -> DSIR importance weights refit on
    // the survivors -> Gumbel top-k training slice. Output is the
    // selected rows themselves, so the hash pins every stage: a wrong
    // cut changes the word sets, a wrong keep decision changes the
    // model, a wrong weight changes the selection keys
    "pipeline_curation7" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // pin the cleaned corpus: the minhash stage scans it twice
      // (members + distinct word-sets) and the DSIR stage twice more
      // (model fit + scoring) — without the pin each scan re-runs the
      // whole gram chain. Session-default pin: reliable checkpoint
      // when the session configures a dir, localCheckpoint in dev.
      // The cut chain is CHOSEN BY CORPUS SIZE (round 19): below the
      // ~100k-doc crossover the minimizer constant outprices the gram
      // shuffle it saves, so small corpora run the full chain — the
      // dedup_exact_substr_min gate above still pins the minimized
      // path explicitly at every SF
      val clean = graft.operators.Checkpoints.pin(
        TextAnalysis.exactSubstrDedupAuto(docs, "doc_id",
            "text", minLen = SubstrMinLen, k = MinimizerK)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("clean_text")))
      val kept = Dedup.minhashRepresentativesMd5(clean, "doc_id",
          "clean_text")
        .where(col("is_kept")).select("doc_id")
      val surv = clean.join(kept, Seq("doc_id"), "left_semi")
      Dsir.gumbelTopK(
          Dsir.importanceWeights(surv, "doc_id", "clean_text",
            isTarget = col("lang") === "en", buckets = 2048),
          k = Curation7K)
        .orderBy(col("key_ppm").desc, col("id"))
    }))

  val oracles: Map[String, String] = Map(

    "dedup_exact_substr_min" ->
      s"""WITH ${Round17.exactSubstrCtes(SubstrMinLen)}
       SELECT d.id AS doc_id, d.len::BIGINT AS n_chars,
         coalesce(cut.nrem, 0)::BIGINT AS n_removed,
         CASE WHEN cut.id IS NULL THEN d.text
           ELSE cut.pre || substr(d.text, cut.laste + 1) END AS clean_text
       FROM d LEFT JOIN cut ON cut.id = d.id
       ORDER BY doc_id""",

    // replays testJpegCell/testJpegDHash for the intact class
    // (doc_id % 4 = 0) exactly as mm_jpeg_real's oracle; the three
    // corruption classes yield NULL features
    "mm_jpeg_tolerance" ->
      """WITH d AS (SELECT doc_id, CAST(3 + doc_id % 3 AS INT) AS cs,
             doc_id % 4 = 0 AS ok
           FROM documents),
         b AS (SELECT doc_id, cs, unnest(generate_series(0, 63)) AS i
           FROM d WHERE ok),
         v AS (SELECT doc_id, cs, i,
             ((doc_id // (1::BIGINT << CAST(i // 8 AS INT))) + (i % 8))
               % 2 AS bit
           FROM b),
         h AS (SELECT doc_id,
             CAST(sum(CASE WHEN bit = 1 THEN
               CASE WHEN i = 63 THEN -9223372036854775807 - 1
                 ELSE 1::BIGINT << CAST(i AS INT) END
               ELSE 0 END) AS BIGINT) AS dhash
           FROM v GROUP BY 1)
       SELECT d.doc_id, d.ok,
         CASE WHEN d.ok THEN CAST(9 * d.cs AS INT) END AS width,
         CASE WHEN d.ok THEN CAST(8 * d.cs AS INT) END AS height,
         h.dhash
       FROM d LEFT JOIN h USING (doc_id) ORDER BY doc_id""",

    // stage-by-stage recomposition: the ExactSubstr CTE chain rebuilds
    // the cleaned corpus (c7), the md5 MinHash chain replays the LSH
    // keep decision ON that corpus, and the s-prefixed DSIR chain
    // refits on the survivors — then the same Gumbel key and top-k cut
    "pipeline_curation7" ->
      s"""WITH ${Round17.exactSubstrCtes(SubstrMinLen)},
         c7 AS (SELECT d.id AS doc_id, dd.lang,
             CASE WHEN cut.id IS NULL THEN d.text
               ELSE cut.pre || substr(d.text, cut.laste + 1) END AS text
           FROM d LEFT JOIN cut ON cut.id = d.id
           JOIN documents dd ON dd.doc_id = d.id),
         ${Extensions.md5MinhashCtes(64, 8, corpus = "c7")},
         bmin AS (SELECT b, bucket, min(doc_id) AS bucket_min
           FROM bands GROUP BY b, bucket),
         rep AS (SELECT a.doc_id, min(m.bucket_min) AS rep_id
           FROM bands a JOIN bmin m ON a.b = m.b AND a.bucket = m.bucket
           GROUP BY a.doc_id),
         surv AS (SELECT c7.doc_id, c7.lang, c7.text
           FROM c7 JOIN rep USING (doc_id) WHERE rep.doc_id = rep.rep_id),
         ${Round16e.dsirWeightCtes("surv", p = "s")},
         ${Round16e.gumbelKeyedCtePfx("s")}
       SELECT id, is_target, n_tokens, logw_ppm, key_ppm FROM skeyed
       ORDER BY key_ppm DESC, id LIMIT $Curation7K""")
}
