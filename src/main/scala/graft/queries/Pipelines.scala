package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators._

/** E1 pipeline mapped onto the TPC-H tables so the full flow (dedup-latest
  * -> broadcast left join -> update rule -> tolerant audit -> resumen) is
  * exercised under the DuckDB oracle: `part` plays the price list, the
  * latest `lineitem` per part plays the CRM extract.
  */
object Pipelines extends GateBatch {

  private def updatedParts(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val nexo = tbl(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
    val crm = tbl(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"), col("l_shipdate"),
        col("l_orderkey"), col("l_linenumber"))
    val latest = DedupLatest(crm, Seq("l_partkey"),
      Seq(col("l_shipdate").desc, col("l_orderkey").desc,
        col("l_linenumber").desc))
    nexo.join(broadcast(latest), col("p_partkey") === col("l_partkey"), "left")
      .withColumn("price_after",
        UpdateRules.applyUpdate(col("p_retailprice"), col("l_extendedprice")))
      .withColumn("tiene_match", col("l_partkey").isNotNull)
      .withColumn("price_changed",
        coalesce(!isClose(col("p_retailprice"), col("price_after")), lit(false)))
  }

  val defs: Map[String, Q] = Map(
    // row-level: update + match/change flags
    "pipeline_price_update" -> ((s, dir) =>
      updatedParts(s, dir).select(
        col("p_partkey"), col("p_brand"),
        col("p_retailprice").as("price_before"),
        col("price_after"), col("tiene_match"), col("price_changed"))
        .orderBy("p_partkey")),

    // end-to-end curation over documents in its oracle-checkable mode:
    // exact md5-digest dedup -> langId + quality filters -> md5 hash
    // sample. Same composition as the production LSH pipeline with the
    // two xxhash64 stages swapped for their cross-engine-replayable twins
    // (LSH-vs-naive equivalence is pinned by DedupEquivalenceSpec).
    "pipeline_curation" -> ((s, dir) => {
      val cur = graft.pipeline.Curation.run(
        tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text",
        graft.pipeline.Curation.Config(
          languages = Seq("en", "es", "und"), minQuality = 0.3,
          sampleFraction = CurationSampleFraction,
          dedupMode = graft.pipeline.Curation.ExactOnly,
          sampleHash = Md5))
      cur.curated.select("doc_id", "lang", "quality", "n_tokens")
        .orderBy("doc_id")
    }),

    // audit resumen per brand (A1/A2 shape: counts + ratio columns)
    "pipeline_resumen" -> ((s, dir) => {
      def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      updatedParts(s, dir).groupBy("p_brand").agg(
        count(lit(1)).as("Registros"),
        cnt(col("tiene_match")).as("Con_Match"),
        cnt(!col("tiene_match")).as("Sin_Match"),
        cnt(col("price_changed")).as("Cambios"),
        cnt(!col("price_changed") && col("tiene_match")).as("Sin_Cambio"))
        .withColumn("%_Con_Match", round(col("Con_Match") / col("Registros"), 4))
        .withColumn("%_Cambios", round(col("Cambios") / col("Registros"), 4))
        .orderBy("p_brand")
    })
  )

  private val CurationSampleFraction = 0.6

  /** The md5 hash-threshold as HashSample computes it — same float
    * expression, so the oracle's literal cannot drift from the Spark cut. */
  private def md5Hex15(fraction: Double): String =
    f"${(fraction * (1L << 60).toDouble).toLong}%015x"

  private val latestCte =
    """WITH latest AS (
         SELECT l_partkey, l_extendedprice FROM (
           SELECT l_partkey, l_extendedprice, row_number() OVER (
             PARTITION BY l_partkey
             ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
           FROM lineitem) WHERE rn = 1),
       u AS (
         SELECT p_partkey, p_brand, p_retailprice AS price_before,
           coalesce(l_extendedprice, p_retailprice) AS price_after,
           l_partkey IS NOT NULL AS tiene_match,
           NOT (abs(p_retailprice - coalesce(l_extendedprice, p_retailprice))
                <= 1e-8 + 1e-5 * abs(coalesce(l_extendedprice, p_retailprice)))
             AS price_changed
         FROM part LEFT JOIN latest ON p_partkey = l_partkey)"""

  val oracles: Map[String, String] = Map(
    // stage-by-stage recomposition of the curation pipeline from the SQL
    // of its already-oracle-checked parts (dedup_exact, text_lang_id,
    // text_quality, text_token_count, sample_hash)
    "pipeline_curation" ->
      s"""WITH keep AS (
           SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\\s+'))), ' '))),
         d AS (SELECT doc_id, text FROM documents
               WHERE doc_id IN (SELECT doc_id FROM keep)),
         m AS (SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\\s+') AS tok FROM d),
         f AS (SELECT doc_id, text, tok,
             len(list_filter(tok, x -> list_contains(['the','a','and','of'], x))) AS en,
             len(list_filter(tok, x -> list_contains(['el','la','de','y'], x))) AS es,
             len(list_filter(tok, x -> list_contains(['le','les','et','une'], x))) AS fr,
             len(list_filter(tok, x -> list_contains(['der','die','und','das'], x))) AS de,
             len(tok)::DOUBLE AS n,
             length(text)::DOUBLE AS len,
             len(list_filter(tok,
               x -> list_contains(['the','a','and','of','to','in'], x)))::DOUBLE AS stop,
             (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE AS punct,
             length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS nospace
           FROM m),
         s AS (SELECT doc_id,
             CASE WHEN en + es + fr + de = 0 THEN 'und'
                  WHEN en >= es AND en >= fr AND en >= de THEN 'en'
                  WHEN es >= fr AND es >= de THEN 'es'
                  WHEN fr >= de THEN 'fr'
                  ELSE 'de' END AS lang,
             floor((least(n / 50.0, 1.0) * 0.3 + (stop / n) * 0.3
               + (1.0 - punct / len) * 0.2
               + least((nospace / n) / 8.0, 1.0) * 0.2) * 1000.0 + 0.5) / 1000.0
               AS quality,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(tok) END AS n_tokens
           FROM f)
         SELECT doc_id, lang, quality, n_tokens FROM s
         WHERE lang IN ('en', 'es', 'und') AND quality >= 0.3
           AND substr(md5(doc_id::VARCHAR), 1, 15)
             < '${md5Hex15(CurationSampleFraction)}'
         ORDER BY doc_id""",
    "pipeline_price_update" -> (latestCte +
      """ SELECT p_partkey, p_brand, price_before, price_after, tiene_match,
          price_changed FROM u ORDER BY p_partkey"""),
    "pipeline_resumen" -> (latestCte +
      """ SELECT p_brand, count(*) AS "Registros",
          sum(CASE WHEN tiene_match THEN 1 ELSE 0 END)::BIGINT AS "Con_Match",
          sum(CASE WHEN NOT tiene_match THEN 1 ELSE 0 END)::BIGINT AS "Sin_Match",
          sum(CASE WHEN price_changed THEN 1 ELSE 0 END)::BIGINT AS "Cambios",
          sum(CASE WHEN NOT price_changed AND tiene_match THEN 1 ELSE 0 END)::BIGINT
            AS "Sin_Cambio",
          round(sum(CASE WHEN tiene_match THEN 1 ELSE 0 END)
            / count(*)::DOUBLE, 4) AS "%_Con_Match",
          round(sum(CASE WHEN price_changed THEN 1 ELSE 0 END)
            / count(*)::DOUBLE, 4) AS "%_Cambios"
          FROM u GROUP BY p_brand ORDER BY p_brand""")
  )
}
