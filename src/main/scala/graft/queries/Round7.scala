package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Md5Prefix
import graft.operators.{BucketedJoin, Profile}
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

/** Round-7 operator gates: bucketed co-located joins, SemDeDup-style
  * semantic dedup, BM25 retrieval scoring, the stream-stream interval
  * join's batch twin, GROUPING SETS, and one-pass table profiling.
  */
object Round7 extends GateBatch {

  /** BM25 query bag for the `text_bm25` gate — terms that occur in the
    * synthetic corpus. BOTH the Spark query and the DuckDB oracle derive
    * from this constant. */
  private[graft] val Bm25Terms: Seq[String] = Seq("hash", "join", "vector")

  /** The `dedup_semantic` gate's cluster count; SQL-replayable md5 cell
    * seeding (the production default is xxhash64 — not in DuckDB). */
  private[graft] val SemNlist = 8
  private[graft] def semSeed(nlist: Int): org.apache.spark.sql.Column =
    pmod(Md5Prefix(col("vec_id").cast("string"), 8), lit(nlist)).cast("int")

  /** Bucketed tables live outside the repo in the system temp dir; the
    * path is deterministic so bench reruns overwrite instead of leak. */
  private def bucketWorkDir: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_bucketed"

  /** One hour in nanoseconds (events.ts is BIGINT ns under nanosAsLong). */
  private val HourNs = 3600L * 1000000000L

  val defs: Map[String, Q] = Map(
    // big⨯big join with ZERO Exchange: both sides bucketed on the join
    // key at write time, SMJ + per-customer agg reuse the bucket
    // distribution (PlanSpec asserts no Exchange anywhere in the plan)
    "join_bucketed" -> ((s, dir) =>
      BucketedJoin.customerOrderTotals(s, dir, bucketWorkDir)
        .withColumn("c_custkey", col("c_custkey").cast("long"))
        .orderBy("c_custkey")),

    // SemDeDup: IVF-clustered embedding space, drop lower-id near-dups
    // within each cluster; md5 seeding so DuckDB replays the clustering
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedupKeep(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, nlist = SemNlist, threshold = 0.3,
          iters = 1, seedCell = Some(semSeed(SemNlist)))
        .withColumn("cell", col("cell").cast("long"))
        .orderBy("vec_id")),

    // BM25 relevance of every document to a fixed query bag — one scan,
    // one 1-row stats aggregate broadcast back, no explode
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(tbl(s, dir, "documents"), "doc_id", "text",
          Bm25Terms)
        .orderBy("doc_id")),

    // batch twin of EventWindows.streamingIntervalJoin: clicks within
    // the hour before each purchase, per purchase event
    "stream_interval_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("__pt"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("__cu"), col("ts").as("__ct"))
      pur.join(clk, col("user_id") === col("__cu")
          && col("__ct") >= col("__pt") - HourNs
          && col("__ct") <= col("__pt"))
        .groupBy("event_id", "user_id")
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("event_id")
    }),

    // GROUPING SETS with grouping() marker columns (beyond the existing
    // rollup gate: an explicit, non-hierarchical set list)
    "agg_grouping_sets" -> ((s, dir) => {
      tbl(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS INT) AS g_status,
          CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          (o_orderstatus, o_orderpriority), ())
        ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""")
    }),

    // one-pass per-column profiling (row/null/distinct counts) of orders
    "profile_table" -> ((s, dir) =>
      Profile(tbl(s, dir, "orders"), OrdersCols)
        .orderBy("col_name")),

    // corpus-level keep-first exact unit dedup (RefinedWeb-style exact
    // substring pass at 2-token-span granularity), reassembled documents
    "dedup_units_global" -> ((s, dir) =>
      TextAnalysis.dedupUnitsGlobal(tbl(s, dir, "documents"), "doc_id",
          "text", splitUnits = t => TextAnalysis.tokenSpans(t, 2), sep = " ")
        .orderBy("doc_id")),

    // hourly resample with forward fill: gaps carry the last observed
    // (pre-rounded) hourly average, n_events = 0
    "window_fill_forward" -> ((s, dir) =>
      graft.streaming.EventWindows.resampleHourlyFfill(tbl(s, dir, "events"))
        .orderBy("event_type", "hour_start")),

    // incremental dedup: the doc_id<250 slice plays the standing corpus
    // index, the rest arrives as the new batch; keep = digest unseen in
    // the index and first within the batch
    "dedup_incremental" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.dedup.Dedup.incrementalExact(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // two-stage retrieval: int8 coarse scan -> exact rescore of 50
    // candidates; with that headroom the result IS brute-force top-10,
    // which is what the oracle checks
    "sim_ann_rescore" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Similarity.int8RescoreTopK(emb, "vec_id", "embedding", q, "qvec",
        candidates = 50, k = 10)
        .withColumn("sim", col("sim") + lit(0.0))
    })
  )

  private[graft] val OrdersCols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** The BM25 oracle's CTE body (`f` per-doc tf/dl, `s` corpus stats)
    * — shared with Round10's hybrid-retrieval oracle so the formula
    * cannot drift between gates. k1 = 1.2, b = 0.75 (the bm25()
    * defaults). */
  private[queries] def bm25Ctes(terms: Seq[String],
                                src: String = "documents",
                                textCol: String = "text"): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"""CASE WHEN trim($textCol) = '' THEN 0.0
         ELSE len(list_filter(list_transform(
           string_split_regex(trim($textCol), '\\s+'), x -> lower(x)),
           x -> x = '${t.toLowerCase}'))::DOUBLE END AS tf$i"""
    }.mkString(",\n         ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i")
      .mkString(", ")
    s"""f AS (
         SELECT doc_id,
           CASE WHEN trim($textCol) = '' THEN 0.0
             ELSE len(string_split_regex(trim($textCol), '\\s+'))::DOUBLE
             END AS dl,
           $tfCols
         FROM $src),
       s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfCols FROM f)"""
  }

  /** The BM25 score select-expression over the [[bm25Ctes]] columns. */
  private[queries] def bm25ScoreExpr(terms: Seq[String]): String =
    terms.indices.map(i =>
      s"""ln(1 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.2)
         / (tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))""").mkString(" + ")

  /** DuckDB BM25 oracle generated from [[Bm25Terms]] so the two sides
    * cannot drift. */
  private def bm25OracleSql(terms: Seq[String]): String =
    s"""WITH ${bm25Ctes(terms)}
       SELECT doc_id, round(${bm25ScoreExpr(terms)}, 4) + 0.0 AS bm25
       FROM f, s ORDER BY doc_id"""

  /** DuckDB per-column profile oracle generated from [[OrdersCols]]. */
  private def profileOracleSql(cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
         sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         count(DISTINCT $c)::BIGINT AS n_distinct,
         round(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) / count(*), 4)
           AS null_frac
         FROM orders"""
    }.mkString(" UNION ALL ") + " ORDER BY col_name"

  val oracles: Map[String, String] = Map(
    "join_bucketed" ->
      """SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_mktsegment
         ORDER BY c_custkey""",

    // replays the full SemDeDup chain: md5 cell seed -> per-cell centroid
    // -> round4-cosine argmax reassignment (tie to the smaller cell,
    // exactly as Similarity.assign) -> within-cell lower-id near-dup
    "dedup_semantic" ->
      s"""WITH v AS (
           SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 8)) AS BIGINT)
               % $SemNlist AS scell
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
         dup AS (
           SELECT DISTINCT a.vec_id FROM asg a JOIN asg b
           ON a.cell = b.cell AND b.vec_id < a.vec_id
           AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.3)
         SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
         FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id
         ORDER BY a.vec_id""",

    "text_bm25" -> bm25OracleSql(Bm25Terms),

    "stream_interval_join" ->
      """SELECT p.event_id, p.user_id, count(*) AS n_clicks
         FROM events p JOIN events c ON c.user_id = p.user_id
           AND p.event_type = 'purchase' AND c.event_type = 'click'
           AND epoch_ns(c.ts) >= epoch_ns(p.ts) - 3600000000000
           AND epoch_ns(c.ts) <= epoch_ns(p.ts)
         GROUP BY p.event_id, p.user_id
         ORDER BY p.event_id""",

    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
         CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
         count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
           (o_orderstatus, o_orderpriority), ())
         ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""",

    "profile_table" -> profileOracleSql(OrdersCols),

    // same span CTE as the text_boilerplate oracle; keep = first
    // occurrence of the span corpus-wide by (doc_id, pos)
    "dedup_units_global" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
             FROM documents
             WHERE text IS NOT NULL AND length(trim(text)) > 0),
         toks AS (SELECT doc_id, unnest(arr) AS tok,
             unnest(generate_series(1, len(arr))) AS i FROM d),
         spans AS (SELECT doc_id, (i - 1) // 2 AS pos,
             string_agg(tok, ' ' ORDER BY i) AS unit
             FROM toks GROUP BY doc_id, (i - 1) // 2),
         flagged AS (SELECT doc_id, pos, unit,
             row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) = 1
               AS keep
             FROM spans)
         SELECT doc_id,
           COALESCE(string_agg(CASE WHEN keep THEN unit END,
             ' ' ORDER BY pos), '') AS dedup_text,
           COALESCE(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_dropped,
           count(*)::BIGINT AS n_units
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",

    "window_fill_forward" ->
      """WITH hourly AS (
           SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
             floor(avg(value) * 100 + 0.5) / 100 AS a, count(*) AS n
           FROM events GROUP BY event_type, h),
         span AS (SELECT event_type, min(h) AS lo, max(h) AS hi
           FROM hourly GROUP BY event_type),
         grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS h
           FROM span)
         SELECT g.event_type, g.h * 3600 AS hour_start,
           last_value(hr.a IGNORE NULLS) OVER (PARTITION BY g.event_type
             ORDER BY g.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS avg_filled,
           COALESCE(hr.n, 0)::BIGINT AS n_events
         FROM grid g LEFT JOIN hourly hr
           ON g.event_type = hr.event_type AND g.h = hr.h
         ORDER BY g.event_type, hour_start""",

    "dedup_incremental" ->
      """WITH keyed AS (
           SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))), ' ')) AS dedup_key
           FROM documents),
         idx AS (SELECT dedup_key, min(doc_id) AS dup_of_index
           FROM keyed WHERE doc_id < 250 GROUP BY dedup_key),
         batch AS (SELECT * FROM keyed WHERE doc_id >= 250),
         bfirst AS (SELECT dedup_key, min(doc_id) AS bf
           FROM batch GROUP BY dedup_key)
         SELECT b.doc_id, b.dedup_key, i.dup_of_index,
           (i.dup_of_index IS NULL AND b.doc_id = f.bf) AS keep
         FROM batch b LEFT JOIN idx i ON b.dedup_key = i.dedup_key
         JOIN bfirst f ON b.dedup_key = f.dedup_key
         ORDER BY b.doc_id""",

    // the rescore pool (50) dwarfs k (10), so the two-stage result is
    // exact brute-force top-k — the identity this oracle checks
    "sim_ann_rescore" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0
             AS sim
         FROM embeddings, q
         ORDER BY sim DESC, vec_id LIMIT 10"""
  )
}
