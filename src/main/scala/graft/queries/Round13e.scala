package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Entropy, TokenBudget}
import graft.textanalysis.{HtmlStrip, Oov}

/** Round-13 fifth batch: web-crawl curation ops — HTML boilerplate
  * stripping, OOV-rate tokenizer fit, per-source token budgets, and
  * the categorical-balance entropy audit. */
object Round13e extends GateBatch {

  /** Vocab size for the OOV gate — the corpus has 31 distinct tokens,
    * so 16 splits it into a real in/out mix. */
  private val OovK = 16

  /** Per-source token budget — cuts mid-source at every sf. */
  private val Budget = 800L

  /** The deterministic HTML wrapper both the Spark fixture and the
    * oracle build around each document: title + style block + body
    * paragraph + entity-bearing link, and a script block (with a bare
    * `<` in its code) on every third doc. */
  private val HtmlPre =
    """<html><head><title>doc """
  private val HtmlMid =
    """</title><style>p{color:red}</style></head><body><p class="t">"""
  private val HtmlLink =
    """</p><a href="http://example.com/"""
  private val HtmlLinkText =
    """">link &amp; more&nbsp;&gt;</a>"""
  private val HtmlScript =
    """<script type="text/javascript">var x = 1 < 2;</script>"""
  /** Uppercase block on every fifth doc — real crawls carry
    * `<SCRIPT>`/`<STYLE>`, so the strip gate must prove the block
    * patterns are case-insensitive (round-13 ADVICE: the old
    * lowercase-only pattern leaked the JS body into clean text). */
  private val HtmlScriptUC =
    """<SCRIPT Lang="js">if (a < b) { q(); }</SCRIPT >"""
  private val HtmlPost = """</body></html>"""

  /** The fixture markup as a Column — shared with the curation-3
    * pipeline gate. */
  private[graft] def htmlExpr: org.apache.spark.sql.Column =
    concat(lit(HtmlPre), col("doc_id"), lit(HtmlMid),
      col("text"), lit(HtmlLink), col("doc_id"), lit(HtmlLinkText),
      when(col("doc_id") % 3 === 0, lit(HtmlScript)).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(HtmlScriptUC)).otherwise(lit("")),
      lit(HtmlPost))

  /** The same markup as DuckDB SQL over a `documents` row. */
  private[graft] def htmlSql: String =
    s"""'${HtmlPre.replace("'", "''")}' || doc_id::VARCHAR ||
        '${HtmlMid.replace("'", "''")}' || text ||
        '${HtmlLink.replace("'", "''")}' || doc_id::VARCHAR ||
        '${HtmlLinkText.replace("'", "''")}' ||
        CASE WHEN doc_id % 3 = 0
          THEN '${HtmlScript.replace("'", "''")}' ELSE '' END ||
        CASE WHEN doc_id % 5 = 0
          THEN '${HtmlScriptUC.replace("'", "''")}' ELSE '' END ||
        '$HtmlPost'"""

  /** The strip chain (blocks -> tags -> entities -> whitespace) as
    * DuckDB SQL over a `html` column. */
  private[graft] def stripSql: String = {
    val noBlocks = HtmlStrip.BlockPatterns.foldLeft("html")(
      (acc, p) => s"regexp_replace($acc, '$p', ' ', 'g')")
    val stripped = entityDecodeSql(
      s"regexp_replace($noBlocks, '<[^>]*>', ' ', 'g')")
    s"trim(regexp_replace($stripped, '[ \\t\\r\\n]+', ' ', 'g'))"
  }

  val defs: Map[String, Q] = Map(

    // strip blocks -> tags -> entities -> whitespace over a fixture
    // that exercises each stage (script body with a bare '<', entity
    // chain with &amp; adjacency); n_tags audits the raw markup
    "text_strip_html" -> ((s, dir) => {
      val html = htmlExpr
      tbl(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), html.as("__html"))
        .select(col("doc_id"),
          HtmlStrip.tagCount(col("__html")).cast("long").as("n_tags"),
          HtmlStrip.strip(col("__html")).as("text_clean"))
        .orderBy("doc_id")
    }),

    // corpus-top-K vocab (TakeOrderedAndProject, broadcast join) ->
    // per-doc out-of-vocabulary fraction — the tokenizer-fit signal
    "text_oov_rate" -> ((s, dir) =>
      Oov.oovRate(tbl(s, dir, "documents"), "doc_id", "text", OovK)
        .orderBy("doc_id")),

    // admit docs per source (ascending doc_id) until the token budget
    // is hit — laned grouped prefix sum, never a one-task-per-source
    // window
    "curate_token_budget" -> ((s, dir) =>
      TokenBudget.cap(tbl(s, dir, "documents"), "source", "doc_id",
        "text", Budget)
        .orderBy("source", "doc_id")),

    // Shannon entropy of the language mix per source — the balance
    // audit; two partial-aggregating scans, ln once per distinct pair
    "agg_entropy_grouped" -> ((s, dir) =>
      Entropy.distribution(tbl(s, dir, "documents"), col("source"),
        col("lang"))
        .withColumnRenamed("group", "source")
        .orderBy("source")))

  /** The entity-decode chain as nested DuckDB replace() calls, inner
    * to outer in [[HtmlStrip.Entities]] order — generated from the
    * same constant the operator folds over. */
  private def entityDecodeSql(inner: String): String =
    HtmlStrip.Entities.foldLeft(inner) { case (acc, (e, r)) =>
      val rq = r.replace("'", "''")
      s"replace($acc, '$e', '$rq')"
    }

  val oracles: Map[String, String] = Map(

    "text_strip_html" ->
      s"""WITH h AS (SELECT doc_id, $htmlSql AS html
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
           len(regexp_extract_all(html, '<[^>]*>'))::BIGINT AS n_tags,
           $stripSql AS text_clean
         FROM h ORDER BY doc_id""",

    "text_oov_rate" ->
      s"""WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         counts AS (SELECT w, count(*)::BIGINT AS c FROM toks
           GROUP BY 1),
         vocab AS (SELECT w FROM counts ORDER BY c DESC, w LIMIT $OovK)
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_oov,
           floor(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE * 1000000 + 0.5) / 1000000 AS oov_rate
         FROM toks t LEFT JOIN vocab v USING (w)
         GROUP BY doc_id ORDER BY doc_id""",

    "curate_token_budget" ->
      s"""WITH d AS (SELECT source, doc_id,
             CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
               THEN len(regexp_split_to_array(trim(text), '\\s+'))
               ELSE 0 END::BIGINT AS n_tokens
           FROM documents
           WHERE source IS NOT NULL AND doc_id IS NOT NULL),
         c AS (SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS cum_tokens
           FROM d)
         SELECT source, doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= $Budget
         ORDER BY source, doc_id""",

    "agg_entropy_grouped" ->
      """WITH counts AS (SELECT source,
             coalesce(lang, '__NA__') AS cat, count(*)::BIGINT AS c
           FROM documents WHERE source IS NOT NULL
           GROUP BY 1, 2)
         SELECT source, sum(c)::BIGINT AS n,
           count(*)::BIGINT AS n_cats,
           floor((ln(sum(c)::DOUBLE) -
             sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c)::DOUBLE)
             * 1000000 + 0.5) / 1000000 AS entropy
         FROM counts GROUP BY source ORDER BY source""")
}
