package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.similarity.{Mmr, Similarity}

/** Round-12 third batch: MMR diversified re-rank and rolling
  * autocorrelation. */
object Round12c extends GateBatch {

  /** MMR fixture: top-12 candidate pool by cosine to query vec 0,
    * re-ranked to 5 diverse picks at λ = 0.5 (exact binary double, so
    * 1−λ is too — the score arithmetic replays bit-for-bit). */
  private val MmrPool = 12
  private val MmrK = 5
  private val MmrLambda = 0.5

  /** Rolling autocorrelation: per-user trailing window over
    * (value_cents, previous value_cents) pairs. Integer cents make
    * every window sum EXACT, so the correlation is one replayable
    * double expression per row. */
  private val CorrWindow = 8

  /** Personalized-PageRank seeds (customer nodes) and rounds. */
  private val PprSources = Seq("c1", "c7", "c13")
  private val PprIters = 3
  private val PprD = 0.85

  /** Sparse-cosine fixture: a 1-in-17 doc slice (the synthetic corpus
    * shares nearly every term across nearly every doc, so doc pairs
    * are dense — the slice keeps the gate's pair space honest while
    * the operator's df cap is what bounds fanout at scale). */
  private val SpcSliceMod = 17
  private val SpcMaxDfFrac = 0.9
  private val SpcMinSim = 0.8

  val defs: Map[String, Q] = Map(

    // MMR diversified re-rank: relevance-ordered pool in, diverse
    // top-k out — greedy argmax of λ·rel − (1−λ)·max-sim-to-picked,
    // ties to the smallest id. The oracle unrolls the same k greedy
    // steps as CTEs over the same 4dp-rounded rel/sim values
    "sim_mmr_rerank" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val pool = Similarity.topK(emb, "vec_id", "embedding", q, "qvec",
          MmrPool)
        .join(emb, Seq("vec_id"))
        .select(col("vec_id"), col("sim").as("rel"), col("embedding"))
      Mmr.rerank(pool, "vec_id", "embedding", "rel", MmrK, MmrLambda)
        .orderBy("rank")
    }),

    // per-user rolling autocorrelation of the value series (trailing
    // 8 valid (x, prev-x) pairs): integer-cents sums keep every window
    // aggregate exact; the correlation is the textbook
    // (nΣxy − ΣxΣy)/√((nΣx² − (Σx)²)(nΣy² − (Σy)²)) evaluated as ONE
    // double expression from those exact longs — identical in DuckDB
    "window_rolling_corr" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("x"))
      val lagW = Window.partitionBy("user_id").orderBy("event_id")
      val pairs = ev
        .withColumn("y", lag("x", 1).over(lagW))
        .where(col("y").isNotNull)
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-(CorrWindow - 1), 0)
      val n = count(lit(1)).over(w)
      val sx = sum("x").over(w); val sy = sum("y").over(w)
      val sxy = sum(col("x") * col("y")).over(w)
      val sxx = sum(col("x") * col("x")).over(w)
      val syy = sum(col("y") * col("y")).over(w)
      val num = n * sxy - sx * sy
      val dx = n * sxx - sx * sx
      val dy = n * syy - sy * sy
      pairs.select(col("user_id"), col("event_id"),
          (floor(when(dx > 0 && dy > 0,
            num.cast("double") /
              sqrt(dx.cast("double") * dy.cast("double")))
            * 1e6 + 0.5) / 1e6).as("rcorr"))
        .orderBy("user_id", "event_id")
    }),

    // personalized PageRank: the walk restarts into 3 seed customers —
    // locality scores, with unreachable nodes at exactly 0. Same
    // join + partial-agg iteration as graph_pagerank; the oracle
    // unrolls the restart-weighted recurrence
    "graph_ppr" -> ((s, dir) => {
      // shared trade multigraph (Extensions.tradeEdgesFor)
      val edges = Extensions.tradeEdgesFor(s, dir)
        .select(concat(lit("c"), col("cust").cast("string")).as("src"),
          concat(lit("s"), col("supp").cast("string")).as("dst"))
      graft.graph.PageRank.personalized(edges, "src", "dst",
          PprSources, PprIters, PprD)
        .orderBy("node")
    }),

    // sparse TF-IDF cosine pairs through the posting table: documents
    // meet only on shared terms (postings self-join), weights are
    // 1e6-scaled longs so dot products and norms are exact integer
    // sums and the cosine is one replayable double division
    "sim_sparse_cosine_pairs" -> ((s, dir) => {
      val slice = tbl(s, dir, "documents")
        .where(col("doc_id") % SpcSliceMod === 0)
      val n = slice.count()
      graft.textanalysis.InvertedIndex.sparseCosinePairs(
          slice, "doc_id", "text", n, SpcMaxDfFrac, SpcMinSim)
        .select(col("doc_a"), col("doc_b"),
          (floor(col("cos") * 1e6 + 0.5) / 1e6).as("cos"))
        .orderBy("doc_a", "doc_b")
    }))

  /** The k greedy MMR steps unrolled as CTEs: sel_r = sel_{r-1} plus
    * the argmax of λ·rel − (1−λ)·max sim-to-sel_{r-1}. */
  private def mmrOracleSql(pool: Int, k: Int, lambda: Double): String = {
    val oneMinus = 1.0 - lambda // same Scala double the Spark plan uses
    val steps = (2 to k).map { r =>
      s"""m$r AS (SELECT p.vec_id, p.embedding,
             $lambda * p.rel - $oneMinus * (SELECT max(s.sim)
               FROM sims s JOIN sel${r - 1} t ON s.b = t.vec_id
               WHERE s.a = p.vec_id) AS score
           FROM pool p
           WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})),
         p$r AS (SELECT vec_id, embedding, $r AS rank, score
           FROM m$r ORDER BY score DESC, vec_id LIMIT 1),
         sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
           SELECT * FROM p$r)"""
    }.mkString(",\n         ")
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id = 0),
       pool AS (SELECT vec_id, embedding::DOUBLE[] AS embedding,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4)
             AS rel
         FROM embeddings, q ORDER BY rel DESC, vec_id LIMIT $pool),
       sims AS (SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_cosine_similarity(a.embedding, b.embedding), 4)
             AS sim
         FROM pool a, pool b WHERE a.vec_id <> b.vec_id),
       p1 AS (SELECT vec_id, embedding, 1 AS rank,
           $lambda * rel AS score
         FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
       sel1 AS (SELECT * FROM p1),
       $steps
       SELECT rank, vec_id, score + 0.0 AS mmr_score
       FROM sel$k ORDER BY rank"""
  }

  /** The PPR recurrence unrolled: r0 = restart, each round
    * (1−d)·restart + d·Σ contributions. */
  private def pprOracleSql(sources: Seq[String], iters: Int,
                           d: Double): String = {
    val mass = 1.0 / sources.size // same Scala double the plan uses
    val srcList = sources.map(s => s"'$s'").mkString(", ")
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT dst, sum(r.rank / deg.d) AS s
           FROM e JOIN deg USING (src) JOIN r${i - 1} r ON e.src = r.node
           GROUP BY dst),
         r$i AS (SELECT node, ${1.0 - d} * restart
             + $d * COALESCE(s, 0.0) AS rank, restart
           FROM nodes LEFT JOIN c$i ON node = dst)"""
    }.mkString(",\n       ")
    s"""WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src,
           's' || l_suppkey AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       nodes AS (SELECT node,
           CASE WHEN node IN ($srcList) THEN $mass ELSE 0.0 END
             AS restart
         FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       r0 AS (SELECT node, restart AS rank, restart FROM nodes),
       $steps
       SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node"""
  }

  val oracles: Map[String, String] = Map(

    "sim_mmr_rerank" -> mmrOracleSql(MmrPool, MmrK, MmrLambda),

    "graph_ppr" -> pprOracleSql(PprSources, PprIters, PprD),

    "sim_sparse_cosine_pairs" ->
      s"""WITH slice AS (SELECT doc_id, text FROM documents
           WHERE doc_id % $SpcSliceMod = 0),
         nn AS (SELECT count(*)::BIGINT AS n FROM slice),
         tf AS (SELECT doc_id AS d, lower(w) AS term,
             count(*)::BIGINT AS tf
           FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
             FROM slice)
           WHERE length(w) > 0 GROUP BY 1, 2),
         dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf
           GROUP BY 1
           HAVING count(*) >= 2 AND count(*) <=
             floor($SpcMaxDfFrac * (SELECT n FROM nn))),
         wtd AS (SELECT t.term, t.d,
             floor(t.tf::DOUBLE *
               ln((SELECT n FROM nn)::DOUBLE / f.df::DOUBLE) * 1000000
               + 0.5)::BIGINT AS w
           FROM tf t JOIN dfs f USING (term)),
         norms AS (SELECT d, sum(w * w)::BIGINT AS nrm FROM wtd
           GROUP BY 1),
         num AS (SELECT l.d AS doc_a, r.d AS doc_b,
             sum(l.w * r.w)::BIGINT AS num
           FROM wtd l JOIN wtd r
             ON l.term = r.term AND l.d < r.d
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           floor((num::DOUBLE /
             (sqrt(n1.nrm::DOUBLE) * sqrt(n2.nrm::DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS cos
         FROM num
           JOIN norms n1 ON num.doc_a = n1.d
           JOIN norms n2 ON num.doc_b = n2.d
         WHERE num::DOUBLE /
           (sqrt(n1.nrm::DOUBLE) * sqrt(n2.nrm::DOUBLE)) >= $SpcMinSim
         ORDER BY doc_a, doc_b""",

    "window_rolling_corr" ->
      s"""WITH ev AS (SELECT user_id, event_id,
             floor(value * 100 + 0.5)::BIGINT AS x
           FROM events
           WHERE user_id IS NOT NULL AND value IS NOT NULL),
         pr AS (SELECT user_id, event_id, x,
             lag(x) OVER (PARTITION BY user_id ORDER BY event_id) AS y
           FROM ev),
         pairs AS (SELECT * FROM pr WHERE y IS NOT NULL),
         s AS (SELECT user_id, event_id,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sxx,
             sum(y * y) OVER w AS syy
           FROM pairs
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN ${CorrWindow - 1} PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id,
           floor((CASE WHEN n * sxx - sx * sx > 0
               AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy)::DOUBLE /
               sqrt((n * sxx - sx * sx)::DOUBLE *
                 (n * syy - sy * sy)::DOUBLE)
             ELSE NULL END) * 1000000 + 0.5) / 1000000 AS rcorr
         FROM s ORDER BY user_id, event_id""")
}
