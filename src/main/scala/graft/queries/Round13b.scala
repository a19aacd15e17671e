package graft.queries

import org.apache.spark.sql.functions._

/** Round-13 second batch: the per-segment forms of the exact rank
  * statistics — grouped Gini and grouped ROC AUC — on the grouped
  * laned prefix ([[graft.operators.LanedPrefix.withPrefixGrouped]]):
  * every window partitioned by (group, lane), per-group cut tables,
  * never a per-group global sort. */
object Round13b extends GateBatch {

  /** AUC segments: four deterministic holdout slices. Must be coprime
    * with NbHoldoutMod (= 3): the holdout IS doc_id % 3 = 0, so a
    * mod-3 segment key would collapse every holdout doc into one
    * segment. */
  private val AucSegMod = 4

  /** Recall-curve fixture: nlist cells (md5-seeded like dedup_semantic
    * so DuckDB replays the clustering), recall@K measured at each probe
    * count. BOTH sides derive from these constants. */
  private val RcNlist = 8
  private val RcK = 20
  private val RcProbes = Seq(1, 2, 4, 8)

  val defs: Map[String, Q] = Map(

    // the recall/latency trade an IVF operator actually consults:
    // recall@20 of the probed search vs exact brute force at nprobe in
    // {1,2,4,8} — nested probe sets make recall provably monotone and
    // nprobe = nlist is the exact-identity endpoint (recall 1.0, the
    // sim_ann_ivf gate's property). The index is built ONCE
    // (localCheckpoint: at scale the assigned corpus is written
    // partitioned by cell) and each probe level is one pruned scan
    "sim_ann_recall_curve" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val (assigned0, cents0) = graft.similarity.Similarity.ivfIndex(
        emb, "vec_id", "embedding", dim = 64, nlist = RcNlist,
        iters = 1, seedCell = Some(Round7.semSeed(RcNlist)))
      // assigned is corpus-sized: session-default pin (reliable
      // checkpoint when the session configures a dir, local in dev);
      // cents is nlist rows — bounded, local is fine either way but
      // pinned uniformly
      val assigned = graft.operators.Checkpoints.pin(assigned0)
      val cents = graft.operators.Checkpoints.pin(cents0)
      val brute = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(graft.similarity.Similarity.cosine(
            graft.similarity.Similarity.toVec(col("embedding")),
            graft.similarity.Similarity.toVec(col("qvec"))), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(RcK).select("vec_id")
        .transform(d => graft.operators.Checkpoints.pin(d))
      RcProbes.map { np =>
        graft.similarity.Similarity.ivfTopK(assigned, cents, "vec_id",
            "embedding", q, "qvec", nprobe = np, k = RcK)
          .join(brute, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(np.toLong).as("nprobe"), col("hits"),
            (col("hits").cast("double") / RcK).as("recall_at_k"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),

    // per-returnflag Gini of spend cents: "is the concentration a
    // property of the corpus or of one segment" — same exact integer
    // block formula as agg_gini, one row per flag
    "agg_gini_grouped" -> ((s, dir) =>
      graft.operators.Gini.giniGrouped(
        tbl(s, dir, "lineitem")
          .where(col("l_extendedprice").isNotNull &&
            col("l_returnflag").isNotNull),
        col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5))
        .orderBy("g")),

    // per-slice ROC AUC of the NB classifier on its holdout — the
    // Simpson's-paradox check a single global AUC hides; slices are
    // deterministic doc_id buckets so the oracle can replay them
    "text_classifier_auc_grouped" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = graft.textanalysis.NaiveBayes.train(
        docs.where(col("doc_id") % Round10.NbHoldoutMod =!= 0),
        "text", col("lang") === Round10.NbPosLang, Round10.NbAlpha)
      val holdout = docs.where(col("doc_id") % Round10.NbHoldoutMod === 0)
      graft.operators.Auc.aucGrouped(
        graft.textanalysis.NaiveBayes.score(model, holdout,
            "doc_id", "text")
          .join(holdout.select("doc_id", "lang"), Seq("doc_id")),
        col("doc_id") % AucSegMod,
        col("nb_score"), col("lang") === Round10.NbPosLang)
        .orderBy("g")
    }))

  val oracles: Map[String, String] = Map(

    // replays the ivfIndex chain exactly as the dedup_semantic oracle
    // (md5 seed -> centroid -> round4-cosine argmax reassignment), then
    // the POST-iteration centroids rank the probe order and each probe
    // level's top-K intersects the brute-force top-K
    "sim_ann_recall_curve" ->
      s"""WITH v AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 8)) AS BIGINT)
               % $RcNlist AS scell
           FROM embeddings),
         cent AS (
           SELECT scell, list(a ORDER BY i) AS c FROM (
             SELECT scell, i, avg(v[i]) AS a
             FROM v, generate_series(1, 64) AS g(i) GROUP BY scell, i)
           GROUP BY scell),
         scored AS (
           SELECT vec_id, v.v AS v, cent.scell AS cell,
             round(list_cosine_similarity(v.v, cent.c), 4) AS sim
           FROM v, cent),
         asg AS (
           SELECT vec_id, v, cell FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, cell) AS rk FROM scored)
           WHERE rk = 1),
         cent2 AS (
           SELECT cell, list(a ORDER BY i) AS c FROM (
             SELECT cell, i, avg(v[i]) AS a
             FROM asg, generate_series(1, 64) AS g(i) GROUP BY cell, i)
           GROUP BY cell),
         q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
         prank AS (
           SELECT cell, row_number() OVER (
             ORDER BY list_cosine_similarity(c, qv) DESC, cell) AS pr
           FROM cent2, q),
         sims AS (
           SELECT a.vec_id, a.cell,
             round(list_cosine_similarity(a.v, qv), 4) AS sim
           FROM asg a, q),
         brute AS (SELECT vec_id FROM sims
           ORDER BY sim DESC, vec_id LIMIT $RcK),
         probes AS (SELECT unnest([${RcProbes.mkString(", ")}]) AS np),
         ivf AS (
           SELECT p.np, s.vec_id, row_number() OVER (
               PARTITION BY p.np ORDER BY s.sim DESC, s.vec_id) AS rk
           FROM probes p
           JOIN prank pk ON pk.pr <= p.np
           JOIN sims s ON s.cell = pk.cell),
         topk AS (SELECT np, vec_id FROM ivf WHERE rk <= $RcK)
         SELECT t.np::BIGINT AS nprobe,
           sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS hits,
           sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / $RcK AS recall_at_k
         FROM topk t LEFT JOIN brute b USING (vec_id)
         GROUP BY t.np ORDER BY nprobe""",

    "agg_gini_grouped" ->
      """WITH cents AS (SELECT l_returnflag AS g,
             floor(l_extendedprice * 100 + 0.5)::BIGINT AS v
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND l_returnflag IS NOT NULL),
         vals AS (SELECT g, v, count(*)::BIGINT AS c FROM cents
           GROUP BY 1, 2),
         cum AS (SELECT g, v, c,
             coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS p0
           FROM vals),
         s AS (SELECT g, sum(v * c * p0)::HUGEINT AS sa,
             sum(v * c * (c + 1))::HUGEINT AS sb,
             sum(v * c)::HUGEINT AS t, sum(c)::BIGINT AS n
           FROM cum GROUP BY g)
         SELECT g, floor(((2 * sa + sb)::DOUBLE
             / (n::DOUBLE * t::DOUBLE)
             - (n + 1)::DOUBLE / n::DOUBLE) * 1000000 + 0.5)
             / 1000000 AS gini,
           n, t::BIGINT AS total
         FROM s WHERE n > 0 AND t > 0 ORDER BY g""",

    "text_classifier_auc_grouped" ->
      s"""WITH ${Round10.nbModelCtes},
           sc AS (SELECT doc_id, unnest(t) AS token FROM toks
             WHERE doc_id % ${Round10.NbHoldoutMod} = 0),
           joined AS (SELECT doc_id, coalesce(m.ratio, 0.5) AS r
             FROM sc LEFT JOIN model m USING (token)),
           scored AS (SELECT doc_id,
               floor(avg(r) * 10000 + 0.5) / 10000 AS nb_score
             FROM joined GROUP BY doc_id),
           ho AS (SELECT d.doc_id, (d.doc_id % $AucSegMod)::VARCHAR AS g,
               d.lang, coalesce(s.nb_score, 0.5) AS nb_score
             FROM (SELECT doc_id, lang FROM documents
               WHERE doc_id % ${Round10.NbHoldoutMod} = 0) d
             LEFT JOIN scored s USING (doc_id)),
           vals AS (SELECT g, nb_score AS s,
               sum(CASE WHEN lang = '${Round10.NbPosLang}' THEN 1
                 ELSE 0 END)::BIGINT AS pos,
               sum(CASE WHEN lang = '${Round10.NbPosLang}' THEN 0
                 ELSE 1 END)::BIGINT AS neg
             FROM ho GROUP BY 1, 2),
           c AS (SELECT g, pos, neg,
               coalesce(sum(neg) OVER (PARTITION BY g ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS negb
             FROM vals),
           t AS (SELECT g, sum(pos)::BIGINT AS np,
               sum(neg)::BIGINT AS nn
             FROM vals GROUP BY g)
         SELECT c.g,
           floor(sum(pos * (2 * negb + neg))::DOUBLE /
             (2.0 * np::DOUBLE * nn::DOUBLE) * 1000000 + 0.5)
             / 1000000 AS auc,
           np AS n_pos, nn AS n_neg
         FROM c JOIN t ON c.g = t.g
         GROUP BY c.g, np, nn
         HAVING np > 0 AND nn > 0
         ORDER BY c.g""")
}
