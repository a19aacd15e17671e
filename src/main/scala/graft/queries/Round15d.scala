package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.XlsSheetReader
import graft.operators.{Labeling, MixPlan}
import graft.sinks.XlsWriter

/** Round-15 fourth batch: the CFB mini-stream write→read loop (the
  * small-workbook container layout the reader supported but nothing
  * emitted), reliability-WEIGHTED consensus (the Dawid–Skene-lite
  * second pass over the round-15b panel suite), and the source-mixture
  * sampling plan (targets + epochs from weights and a token budget —
  * the arithmetic stage ahead of the executing samplers). */
object Round15d extends GateBatch {

  private val MixWeights = Seq("en" -> 0.4, "es" -> 0.2, "fr" -> 0.2,
    "de" -> 0.1, "code" -> 0.1) // 'code' absent from the corpus;
  // 'zh' present but unweighted — both outer edges exercised
  private val MixBudget = 1000000L

  private def outDir(name: String, dir: String): String =
    new java.io.File(s"target/gates/r15/${name}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath

  private val miniCfg = graft.ingest.RawSheetReader.Config(
    aliases = Seq("Pais id" -> Nil, "Nombre" -> Nil, "Region" -> Nil),
    ensure = Seq("Pais id", "Nombre", "Region"))

  val defs: Map[String, Q] = Map(

    // a sub-4096-byte workbook through the mini-FAT layout: 64-byte
    // mini sectors carved from the root entry's mini-stream — the
    // reader's SECOND sector-resolution path, previously pinned only
    // by the test-scope fixture writer, now driven by the production
    // sink on real bytes
    "ingest_xls_mini" -> ((s, dir) => {
      val out = outDir("xls_mini", dir)
      val df = tbl(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("Pais id"),
        col("n_name").as("Nombre"),
        col("n_regionkey").cast("long").as("Region"))
        .orderBy("Pais id")
      val path = s"$out/nacion_mini.xls"
      XlsWriter.writeWorkbook(path, Seq("Naciones" -> df), mini = true)
      XlsSheetReader.readSheet(s, path, "mini", miniCfg).select(
        expr("try_cast(`Pais id` AS BIGINT)").as("pais"),
        col("Nombre").as("nombre"),
        expr("try_cast(Region AS BIGINT)").as("region"))
        .orderBy("pais")
    }),

    // reliability-weighted consensus: round-1 accuracy (1e6-scaled to
    // exact integer weights) re-votes the panel — the winner can
    // differ from the raw majority exactly where trusted raters
    // disagree with the crowd
    "label_consensus_weighted" -> ((s, dir) =>
      Labeling.weightedConsensus(
          tbl(s, dir, "lineitem"),
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
        .orderBy("item")),

    // the mixture plan: per-source availability vs target share of a
    // 1M-token budget; epochs > 1 flag up-sampling, absent sources
    // surface with zero availability instead of silent renormalization
    "curate_mix_plan" -> ((s, dir) =>
      MixPlan.plan(tbl(s, dir, "documents"), col("lang"), col("text"),
        MixWeights, MixBudget)))

  val oracles: Map[String, String] = Map(

    "ingest_xls_mini" ->
      """SELECT n_nationkey::BIGINT AS pais, n_name AS nombre,
           n_regionkey::BIGINT AS region
         FROM nation ORDER BY pais""",

    "label_consensus_weighted" ->
      """WITH r AS (SELECT l_orderkey::VARCHAR AS item,
             l_linenumber::VARCHAR AS rater, l_returnflag AS label
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
             AND l_returnflag IS NOT NULL),
         cells AS (SELECT item, label, count(*)::BIGINT AS c
           FROM r GROUP BY item, label),
         win AS (SELECT item, label AS consensus, row_number() OVER
             (PARTITION BY item ORDER BY c DESC, label) AS rn
           FROM cells),
         acc AS (SELECT rater,
             floor(sum(CASE WHEN r.label = w.consensus THEN 1 ELSE 0
               END)::DOUBLE / count(*) * 1000000 + 0.5)::BIGINT AS wt
           FROM r JOIN win w ON r.item = w.item AND w.rn = 1
           GROUP BY rater),
         wc AS (SELECT r.item, r.label, sum(a.wt)::BIGINT AS wv,
             count(*)::BIGINT AS c
           FROM r JOIN acc a USING (rater) GROUP BY r.item, r.label),
         winw AS (SELECT item, label, wv, c, row_number() OVER
             (PARTITION BY item ORDER BY wv DESC, label) AS rn
           FROM wc),
         tot AS (SELECT item, sum(c)::BIGINT AS total
           FROM wc GROUP BY item)
         SELECT w.item, w.label, w.wv AS w_votes, w.c AS votes, t.total
         FROM winw w JOIN tot t USING (item)
         WHERE w.rn = 1 ORDER BY item""",

    "curate_mix_plan" -> {
      val wSum = MixWeights.map(_._2).sum
      val srcs = MixWeights.map(w => s"'${w._1}'").mkString(", ")
      val wts = MixWeights.map(_._2).mkString(", ")
      s"""WITH a AS (SELECT lang AS source, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
               THEN len(regexp_split_to_array(trim(text), '\\s+'))
               ELSE 0 END)::BIGINT AS n_tokens
           FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         w AS (SELECT unnest([$srcs]) AS source,
             unnest([$wts]::DOUBLE[]) AS wt)
         SELECT coalesce(a.source, w.source) AS source,
           coalesce(n_docs, 0)::BIGINT AS n_docs,
           coalesce(n_tokens, 0)::BIGINT AS n_tokens,
           floor(coalesce(wt, 0) / $wSum * 1000000 + 0.5) / 1000000
             AS weight,
           floor($MixBudget * coalesce(wt, 0) / $wSum)::BIGINT
             AS target_tokens,
           CASE WHEN coalesce(n_tokens, 0) > 0
             THEN floor(floor($MixBudget * coalesce(wt, 0) / $wSum)
               / n_tokens * 1000000 + 0.5) / 1000000 END AS epochs
         FROM a FULL OUTER JOIN w USING (source) ORDER BY source"""
    })
}
