package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{NegativeSample, RankNormalize}
import graft.textanalysis.{NaiveBayes, TermStats}

/** Round-12 second batch: negative sampling, percent-rank
  * normalization, term mutual information, classifier calibration.
  * Oracles generated from the same constants as the Spark queries. */
object Round12b extends GateBatch {

  /** Negative-sampling fixture: positives are (user mod 200,
    * event mod 300) interactions; 4 negatives per user drawn from the
    * 300-item space with the default margin. */
  private val NegUsers = 200
  private val NegItems = 300L
  private val NegK = 4
  private val NegMargin = 8

  /** Term-MI label: English vs the rest, hapax trimmed. */
  private val MiMinDf = 2L

  /** Calibration bins over the [0,1] NB score. */
  private val CalBins = 10

  val defs: Map[String, Q] = Map(

    // deterministic negative sampling for contrastive training: per
    // user, the first k pseudo-random non-interacted items by md5 draw
    // order (collision-deduped to the first draw, positives removed by
    // one anti-join) — reproducible on any engine, margin-stable by
    // construction. The oracle replays the same md5 15-hex-digit
    // candidate stream
    "sample_negatives" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("user_id").isNotNull && col("event_id").isNotNull)
      NegativeSample(ev,
          col("user_id") % NegUsers, col("event_id") % NegItems,
          NegItems, NegK, NegMargin)
        .select(col("user"), col("neg_item"),
          col("draw").cast("long").as("draw"))
        .orderBy("user", "draw")
    }),

    // percent-rank feature normalization WITHOUT the one-task global
    // window: distinct-value collapse, equi-depth lanes, two-level
    // exclusive prefix-count, one equi-join back to the rows. The
    // oracle runs the percent_rank() window — same tie rule, same
    // single IEEE division
    "scalar_rank_pct" -> ((s, dir) =>
      RankNormalize(tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")), "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          (floor(col("rank_pct") * 1e6 + 0.5) / 1e6).as("rank_pct"))
        .orderBy("l_orderkey", "l_linenumber")),

    // term-label mutual information (feature selection for the text
    // classifier): the 2x2 contingency MI per term, cells in fixed
    // 11+10+01+00 order, docs with no tokens still occupying the
    // no-term cells
    "text_term_mi" -> ((s, dir) =>
      TermStats.termMutualInfo(tbl(s, dir, "documents"),
          "doc_id", "text", col("lang") === Round10.NbPosLang, MiMinDf)
        .orderBy("term")),

    // reliability diagram of the NB classifier on its holdout: scores
    // bin into 10 fixed-width buckets; per bucket the mean predicted
    // score vs the observed positive rate. Means divide exact integer
    // sums (scores are 4dp-rounded, so the 1e4-scaled sum is an exact
    // long), making the doubles a single replayable division
    "text_classifier_calibration" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = NaiveBayes.train(
        docs.where(col("doc_id") % Round10.NbHoldoutMod =!= 0),
        "text", col("lang") === Round10.NbPosLang, Round10.NbAlpha)
      val holdout = docs.where(col("doc_id") % Round10.NbHoldoutMod === 0)
      NaiveBayes.score(model, holdout, "doc_id", "text")
        .join(holdout.select("doc_id", "lang"), Seq("doc_id"))
        .select(
          least(floor(col("nb_score") * CalBins), lit(CalBins - 1))
            .cast("int").as("bin"),
          when(col("lang") === Round10.NbPosLang, 1L).otherwise(0L)
            .as("pos"),
          floor(col("nb_score") * 1e4 + 0.5).cast("long").as("s4"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("s4").as("__s"),
          sum("pos").as("__p"))
        .select(col("bin"), col("n"),
          (col("__s").cast("double") /
            (col("n").cast("double") * 10000.0)).as("mean_score"),
          (col("__p").cast("double") / col("n").cast("double"))
            .as("obs_rate"))
        .orderBy("bin")
    }),

    // native codegen Jaro-Winkler vs DuckDB's built-in, EXACT doubles
    // (no rounding): the kernel was probed bit-identical on 20k random
    // pairs, so the gate pins the strongest claim — same matches, same
    // floor(t/2) transposition count, same 0.7 boost threshold, same
    // prefix cap. Typo column drops p_name's first char and appends
    // one; the cross column compares unrelated fields (low scores)
    "scalar_jaro_winkler" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
      import graft.functions.JaroWinkler
      p.select(col("p_partkey"),
          JaroWinkler(col("p_name"),
            concat(substring(col("p_name"), 2, 1000), lit("x")))
            .as("jw_typo"),
          JaroWinkler(col("p_name"), col("p_type")).as("jw_other"))
        .orderBy("p_partkey")
    }))

  /** One 2x2-contingency MI cell in SQL — mirrors
    * [[graft.textanalysis.TermStats]]'s `cell` exactly (same operand
    * order, same double domain). */
  private def miCellSql(nij: String, ni: String, nj: String): String =
    s"""CASE WHEN $nij = 0 THEN 0.0
        ELSE (($nij)::DOUBLE / n::DOUBLE) *
          ln((n::DOUBLE * ($nij)::DOUBLE) /
            (($ni)::DOUBLE * ($nj)::DOUBLE)) END"""

  val oracles: Map[String, String] = Map(

    "sample_negatives" ->
      s"""WITH pos AS (SELECT DISTINCT
             (user_id % $NegUsers)::BIGINT AS u,
             (event_id % $NegItems)::BIGINT AS i
           FROM events
           WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         users AS (SELECT DISTINCT u FROM pos),
         cand AS (SELECT u, j,
             ('0x' || substr(md5(u::VARCHAR || '|' || j::VARCHAR),
               1, 15))::BIGINT % $NegItems AS item
           FROM users, generate_series(0, ${NegK + NegMargin - 1})
             AS g(j)),
         ded AS (SELECT u, item, min(j)::BIGINT AS draw
           FROM cand GROUP BY 1, 2),
         neg AS (SELECT d.u, d.item, d.draw FROM ded d
           WHERE NOT EXISTS (SELECT 1 FROM pos p
             WHERE d.u = p.u AND d.item = p.i)),
         r AS (SELECT u, item, draw, row_number()
             OVER (PARTITION BY u ORDER BY draw) AS rn FROM neg)
         SELECT u AS "user", item AS neg_item, draw
         FROM r WHERE rn <= $NegK ORDER BY "user", draw""",

    "scalar_rank_pct" ->
      """SELECT l_orderkey, l_linenumber,
           floor(percent_rank() OVER (ORDER BY l_extendedprice)
             * 1000000 + 0.5) / 1000000 AS rank_pct
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "text_term_mi" ->
      s"""WITH lab AS (SELECT doc_id, text, lang = '${Round10.NbPosLang}'
             AS pos FROM documents WHERE lang IS NOT NULL),
         tot AS (SELECT count(*)::BIGINT AS n,
             sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS np
           FROM lab),
         td AS (SELECT DISTINCT doc_id, pos, lower(w) AS term FROM (
             SELECT doc_id, pos,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
             FROM lab)
           WHERE length(w) > 0),
         cnt AS (SELECT term,
             sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS c1p,
             sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS c1n
           FROM td GROUP BY 1)
         SELECT term, (c1p + c1n)::BIGINT AS df,
           floor((${miCellSql("c1p", "c1p + c1n", "np")} +
             ${miCellSql("c1n", "c1p + c1n", "n - np")} +
             ${miCellSql("np - c1p", "n - (c1p + c1n)", "np")} +
             ${miCellSql("(n - np) - c1n", "n - (c1p + c1n)", "n - np")})
             * 1000000 + 0.5) / 1000000 AS mi
         FROM cnt, tot WHERE c1p + c1n >= $MiMinDf
         ORDER BY term""",

    "text_classifier_calibration" ->
      s"""WITH ${Round10.nbModelCtes},
           sc AS (SELECT doc_id, unnest(t) AS token FROM toks
             WHERE doc_id % ${Round10.NbHoldoutMod} = 0),
           joined AS (SELECT doc_id, coalesce(m.ratio, 0.5) AS r
             FROM sc LEFT JOIN model m USING (token)),
           scored AS (SELECT doc_id,
               floor(avg(r) * 10000 + 0.5) / 10000 AS nb_score
             FROM joined GROUP BY doc_id),
           ho AS (SELECT d.doc_id, d.lang,
               coalesce(s.nb_score, 0.5) AS nb_score
             FROM (SELECT doc_id, lang FROM documents
               WHERE doc_id % ${Round10.NbHoldoutMod} = 0) d
             LEFT JOIN scored s USING (doc_id)),
           binned AS (SELECT
               least(floor(nb_score * $CalBins),
                 ${CalBins - 1})::INT AS bin,
               (CASE WHEN lang = '${Round10.NbPosLang}' THEN 1
                 ELSE 0 END)::BIGINT AS pos,
               floor(nb_score * 10000 + 0.5)::BIGINT AS s4
             FROM ho)
         SELECT bin, count(*)::BIGINT AS n,
           sum(s4)::DOUBLE / (count(*)::DOUBLE * 10000.0) AS mean_score,
           sum(pos)::DOUBLE / count(*)::DOUBLE AS obs_rate
         FROM binned GROUP BY 1 ORDER BY 1""",

    "scalar_jaro_winkler" ->
      """SELECT p_partkey,
           jaro_winkler_similarity(p_name,
             substr(p_name, 2) || 'x') AS jw_typo,
           jaro_winkler_similarity(p_name, p_type) AS jw_other
         FROM part ORDER BY p_partkey""")
}
