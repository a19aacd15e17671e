package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 fourth batch: time-decayed counts with exact dyadic
  * weights, a robust (median-slope) trend per series, exact
  * distributed ROC AUC, and hard-negative mining. */
object Round12d extends GateBatch {

  /** AUC on the NB holdout — same model/holdout constants as the
    * classifier gates. */

  /** Hard-negative fixture: positives are the vectors touched by the
    * user-bucket-7 events; negatives are the 10 most centroid-similar
    * non-positives. */
  private val HnUserBucket = 7
  private val HnK = 10

  /** Exponential decay with a 1-day half-life over integer day
    * buckets, capped at 40 days: weight(d days ago) = 2^(40−d) as a
    * LONG — every weight is an exact power of two, the per-group SUM
    * is exact integer arithmetic (order-free), and one final division
    * by 2^40 yields the decayed count. `pow(0.5, x)` chains or
    * float-decay recurrences would drift per addition order; dyadic
    * longs cannot. */
  private val DecayCapDays = 40
  private val DecayScale = 1L << DecayCapDays

  /** Robust trend: per-series median of lag-3 slopes (a practical
    * Theil-Sen — the median of pairwise slopes over a deterministic
    * pair family instead of all O(n²) pairs). */
  private val TrendLag = 3

  val defs: Map[String, Q] = Map(

    // time-decayed event counts per type ("how active is this stream
    // RIGHT NOW"): the newest day weighs 2^40, each older day half
    // that, >40 days weighs 0 — exact integer sums, one division
    "agg_decayed_counts" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("event_type"),
          nsToEpochSec(col("ts")).cast("long").as("sec"))
        .where(col("event_type").isNotNull && col("sec").isNotNull)
        .withColumn("day", expr("sec div 86400"))
      val ref = ev.agg(max("day").as("ref_day"))
      ev.crossJoin(broadcast(ref))
        .withColumn("ago", col("ref_day") - col("day"))
        .withColumn("w",
          when(col("ago") <= DecayCapDays,
            expr(s"shiftleft(1L, cast($DecayCapDays - ago AS INT))"))
            .otherwise(lit(0L)))
        .groupBy("event_type")
        // the sum runs in DECIMAL(38,0): >= 2^23 rows on the newest
        // day would wrap a long sum of 2^40-scale weights silently;
        // DuckDB's BIGINT sum promotes to int128, so both sides are
        // exact before the one double conversion
        .agg(count(lit(1)).as("n_events"),
          (sum(col("w").cast("decimal(38,0)")).cast("double") /
            lit(DecayScale.toDouble)).as("decayed_count"))
        .orderBy("event_type")
    }),

    // per-user robust trend: median of lag-3 slopes of the cents
    // series over event order — outlier spikes move the mean slope,
    // not the median. Slopes are exact-integer deltas divided once;
    // the median is the engines' shared exact median
    "window_robust_trend" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("x"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
      ev.withColumn("px", lag("x", TrendLag).over(w))
        .withColumn("pid", lag("event_id", TrendLag).over(w))
        .where(col("px").isNotNull)
        .select(col("user_id"),
          ((col("x") - col("px")).cast("double") /
            (col("event_id") - col("pid")).cast("double")).as("slope"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_slopes"),
          (floor(median(col("slope")) * 1e6 + 0.5) / 1e6)
            .as("med_slope"))
        .orderBy("user_id")
    }),

    // exact distributed ROC AUC of the NB classifier on its holdout —
    // the Mann-Whitney identity over distinct scores via the laned
    // prefix machinery (no global rank window); the doubled count
    // clears the tie half, so 2·AUC·np·nn is an exact long and AUC is
    // one division. The oracle runs the same identity with one window
    "text_classifier_auc" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = graft.textanalysis.NaiveBayes.train(
        docs.where(col("doc_id") % Round10.NbHoldoutMod =!= 0),
        "text", col("lang") === Round10.NbPosLang, Round10.NbAlpha)
      val holdout = docs.where(col("doc_id") % Round10.NbHoldoutMod === 0)
      graft.operators.Auc.auc(
        graft.textanalysis.NaiveBayes.score(model, holdout,
            "doc_id", "text")
          .join(holdout.select("doc_id", "lang"), Seq("doc_id")),
        col("nb_score"), col("lang") === Round10.NbPosLang)
    }),

    // hard-negative mining for contrastive training: the negatives
    // that MATTER are the ones most similar to what the user engaged
    // with — centroid of the positives (4dp per dim, the agg_centroids
    // replay convention), cosine top-k over the corpus, positives
    // anti-joined out
    "sample_hard_negatives" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val nv = emb.count()
      val pos = tbl(s, dir, "events")
        .where(col("user_id").isNotNull && col("event_id").isNotNull &&
          col("user_id") % 50 === HnUserBucket)
        .select(pmod(col("event_id"), lit(nv)).cast("long").as("vec_id"))
        .distinct()
      val cent = emb.join(pos, "vec_id")
        .select(posexplode(graft.similarity.Similarity
          .toVec(col("embedding"))).as(Seq("dim", "x")))
        .groupBy("dim").agg((round(avg("x"), 4) + lit(0.0)).as("c"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c)))," +
          " s -> s.c)").as("cv"))
      emb.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          (round(graft.similarity.Similarity.cosine(
            graft.similarity.Similarity.toVec(col("embedding")),
            col("cv")), 4) + lit(0.0)).as("sim"))
        .join(pos, Seq("vec_id"), "left_anti")
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(HnK)
    }),

    // exact Gini concentration of spend (price cents): the global
    // rank sum collapses over distinct values via the laned prefix —
    // a tie block contributes x·(c·p0 + c(c+1)/2) whatever its
    // within-tie order — and the halving folds into the closing
    // doubling so the statistic is exact integer arithmetic ended by
    // two double divisions. The oracle runs the same block formula
    // over one window
    "agg_gini" -> ((s, dir) =>
      graft.operators.Gini.gini(
        tbl(s, dir, "lineitem").where(col("l_extendedprice").isNotNull),
        floor(col("l_extendedprice") * 100 + 0.5))))

  val oracles: Map[String, String] = Map(

    "agg_decayed_counts" ->
      s"""WITH ev AS (SELECT event_type,
             epoch_ns(ts) // 1000000000 // 86400 AS day
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         ref AS (SELECT max(day) AS ref_day FROM ev),
         wtd AS (SELECT event_type,
             CASE WHEN ref_day - day <= $DecayCapDays
               THEN (1::BIGINT << ($DecayCapDays - (ref_day - day)))
               ELSE 0 END AS w
           FROM ev, ref)
         SELECT event_type, count(*)::BIGINT AS n_events,
           sum(w)::DOUBLE / $DecayScale.0 AS decayed_count
         FROM wtd GROUP BY 1 ORDER BY 1""",

    "window_robust_trend" ->
      s"""WITH ev AS (SELECT user_id, event_id,
             floor(value * 100 + 0.5)::BIGINT AS x
           FROM events
           WHERE user_id IS NOT NULL AND value IS NOT NULL),
         lagged AS (SELECT user_id, event_id, x,
             lag(x, $TrendLag) OVER w AS px,
             lag(event_id, $TrendLag) OVER w AS pid
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         slopes AS (SELECT user_id,
             (x - px)::DOUBLE / (event_id - pid)::DOUBLE AS slope
           FROM lagged WHERE px IS NOT NULL)
         SELECT user_id, count(*)::BIGINT AS n_slopes,
           floor(median(slope) * 1000000 + 0.5) / 1000000 AS med_slope
         FROM slopes GROUP BY 1 ORDER BY 1""",

    "text_classifier_auc" ->
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
           vals AS (SELECT nb_score AS s,
               sum(CASE WHEN lang = '${Round10.NbPosLang}' THEN 1
                 ELSE 0 END)::BIGINT AS pos,
               sum(CASE WHEN lang = '${Round10.NbPosLang}' THEN 0
                 ELSE 1 END)::BIGINT AS neg
             FROM ho GROUP BY 1),
           c AS (SELECT pos, neg,
               coalesce(sum(neg) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS negb
             FROM vals),
           t AS (SELECT sum(pos)::BIGINT AS np, sum(neg)::BIGINT AS nn
             FROM vals)
         SELECT floor(sum(pos * (2 * negb + neg))::DOUBLE /
             (2.0 * np::DOUBLE * nn::DOUBLE) * 1000000 + 0.5)
             / 1000000 AS auc,
           np AS n_pos, nn AS n_neg
         FROM c, t GROUP BY np, nn""",

    "sample_hard_negatives" ->
      s"""WITH nv AS (SELECT count(*)::BIGINT AS n FROM embeddings),
         pos AS (SELECT DISTINCT
             (event_id % (SELECT n FROM nv))::BIGINT AS vec_id
           FROM events
           WHERE user_id IS NOT NULL AND event_id IS NOT NULL
             AND user_id % 50 = $HnUserBucket),
         cent AS (SELECT list(c ORDER BY dim) AS cv FROM (
             SELECT i AS dim,
               round(avg(embedding[i]::DOUBLE), 4) + 0.0 AS c
             FROM embeddings e JOIN pos USING (vec_id),
               generate_series(1, 64) AS g(i)
             GROUP BY i)),
         scored AS (SELECT vec_id,
             round(list_cosine_similarity(embedding::DOUBLE[], cv), 4)
               + 0.0 AS sim
           FROM embeddings, cent)
         SELECT vec_id, sim FROM scored
         WHERE vec_id NOT IN (SELECT vec_id FROM pos)
         ORDER BY sim DESC, vec_id LIMIT $HnK""",

    "agg_gini" ->
      """WITH cents AS (SELECT
             floor(l_extendedprice * 100 + 0.5)::BIGINT AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         vals AS (SELECT v, count(*)::BIGINT AS c FROM cents
           GROUP BY 1),
         cum AS (SELECT v, c,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS p0
           FROM vals),
         s AS (SELECT sum(v * c * p0)::HUGEINT AS sa,
             sum(v * c * (c + 1))::HUGEINT AS sb,
             sum(v * c)::HUGEINT AS t, sum(c)::BIGINT AS n
           FROM cum)
         SELECT floor(((2 * sa + sb)::DOUBLE / (n::DOUBLE * t::DOUBLE)
             - (n + 1)::DOUBLE / n::DOUBLE) * 1000000 + 0.5)
             / 1000000 AS gini,
           n, t::BIGINT AS total
         FROM s""")
}
