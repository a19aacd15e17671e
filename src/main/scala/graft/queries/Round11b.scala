package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Compaction, HeavyHitters, Md5,
  TemperatureMixture}

/** Round-11 continuation gates: the heavy-hitters sketch family and
  * curation/layout planners. Each Spark query has a DuckDB oracle
  * generated from the same constants, like [[Round11]]. */
object Round11b extends GateBatch {

  /** Heavy-hitter constants. The synthetic key plants two hot keys
    * (each ~1/6 of rows) over a ~2000-key cold tail, the shape MG is
    * for: the exact `GROUP BY` the oracle runs would shuffle the whole
    * key space; the engine shuffles k counters per task and exact-counts
    * only the ≤ k candidates. MinShare 0.05 → k = ceil(1/0.05) = 20
    * counters, auto-sized. */
  private val HhShare = 0.05

  /** Compaction fixture: ~997 synthetic files with integral byte sizes
    * (quantities are integral doubles, so the sum is exact), packed to
    * 8 MB bins. */
  private val CompactFiles = 997
  private val CompactTarget = 8000000L

  /** Temperature resampling budget over the documents corpus. */
  private val TempTotal = 300L

  /** Grouped-KMV sketch size. */
  private val KmvGK = 128

  /** Streaming heavy hitters: 4 lanes x 16 MG counters; any key with
    * global share > 0.1 has lane share > 0.1 > 1/17 in at least one
    * lane, so the lane-candidate union keeps the superset guarantee. */
  private val HhStreamK = 16
  private val HhStreamShare = 0.1

  /** Paragraph-dedup unit: non-overlapping 8-token chunks (the corpus
    * has no newline paragraphs; 8 tokens gives a healthy duplicate
    * rate at every SF). */
  private val ParaWindow = 8

  /** Skipping-report constants: 32 simulated files, 1024-row layout
    * sketch, a ~2-file price band as the probe predicate. */
  private val SkipFiles = 32
  private val SkipK = 1024
  private val SkipLo = 30000.0
  private val SkipHi = 34000.0

  val defs: Map[String, Q] = Map(

    // small-file compaction planning: greedy first-fit bin assignment
    // off an exclusive byte prefix sum (BucketedPrefixSum — two-level,
    // never a one-task sort), bin = cum_before div target; the summary
    // is what an OPTIMIZE rewrite job consumes. Interior bins land
    // within one max-file of the target by construction
    "layout_compaction" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val stats = li.groupBy((col("l_orderkey") % CompactFiles)
          .as("file_id"))
        .agg((sum(col("l_quantity")) * 100).cast("long").as("bytes"))
      Compaction.binSummary(stats, "file_id", "bytes", CompactTarget,
          bucketWidth = 128)
        .orderBy("bin")
    }),

    // per-group KMV distinct: each segment's bottom-k distinct-hash
    // sketch via the custom bounded-buffer top-k operator (k rows of
    // state per group after the distinct collapse — no window sort),
    // the (k-1)/u_k estimate read off per group; exact distincts ride
    // along. Completes the grouped sketch symmetry with
    // agg_hll_grouped, with KMV's set-operation support
    "agg_kmv_grouped" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val est = Analytics.kmvEstimateGrouped(
        Analytics.kmvSketchGrouped(ev, "event_type", "event_id", KmvGK),
        KmvGK)
      val tru = ev.groupBy(col("event_type").as("__g"))
        .agg(countDistinct("event_id").as("true_distinct"))
      est.join(tru, "__g")
        .select(col("__g").as("g"), col("true_distinct"), col("kmv_est"))
        .orderBy("g")
    }),

    // STREAMING heavy hitters, replayed: per-lane Misra-Gries end
    // states (the transformWithState processor's batch twin), lane
    // candidates unioned — mergeability keeps the superset guarantee —
    // then one exact count over only those keys. The oracle runs the
    // full GROUP BY ... HAVING: the gate pins that the bounded-state
    // streaming path lands on the EXACT batch answer. The processor
    // itself is pinned bit-identical to the replay across micro-batch
    // splits in HeavyHittersSpec
    "stream_heavy_hitters" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val key = when(col("user_id") % 3 === 0,
          concat(lit("hot"), col("user_id") % 2))
        .otherwise(concat(lit("u"), col("user_id")))
      val lanes = graft.streaming.StreamingTopK.replayShards(
        ev, pmod(col("user_id"), lit(4)), col("event_id"), key,
        HhStreamK)
      graft.streaming.StreamingTopK.exactFromShards(lanes, ev, key,
          HhStreamShare)
        .orderBy("k")
    }),

    // URL scalars over a deterministic URL fixture (scheme/host with
    // optional userinfo-free port and www, optional path, query,
    // fragment): pure codegen'd regexp_extract columns — the per-row
    // fields crawl curation groups and filters by. The oracle builds
    // the identical URL string and runs the same RE2-safe patterns
    "scalar_url_parts" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").filter(col("event_id") % 9 === 0)
      val scheme = when(col("event_id") % 2 === 0, lit("https"))
        .otherwise(lit("http"))
      val url = concat(scheme, lit("://"),
        when(col("user_id") % 4 === 0, lit("www.")).otherwise(lit("")),
        lit("site"), col("user_id") % 20, lit(".example.com"),
        when(col("user_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
        when(col("event_id") % 3 =!= 0,
          concat(lit("/p/"), col("event_id"))).otherwise(lit("")),
        when(col("event_id") % 5 === 0,
          concat(lit("?ref=u"), col("user_id"), lit("&x=1")))
          .otherwise(lit("")),
        when(col("event_id") % 7 === 0, lit("#top")).otherwise(lit("")))
      import graft.functions.GraftFunctions._
      ev.select(col("event_id"), url.as("url"))
        .select(col("event_id"), col("url"),
          urlScheme(col("url")).as("scheme"),
          urlHost(col("url")).as("host"),
          urlDomain(col("url")).as("domain"),
          urlPath(col("url")).as("path"),
          urlParam(col("url"), "ref").as("ref"))
        .orderBy("event_id")
    }),

    // paragraph-level dedup with document reassembly (the Dolma
    // recipe): keep-first at chunk granularity — canonical home is the
    // min arithmetic (doc, idx) key per distinct chunk — then docs are
    // stitched back from their surviving chunks. One aggregate + one
    // join on the chunk text, one reassembly aggregate; never
    // all-pairs
    "text_paragraph_dedup" -> ((s, dir) =>
      graft.dedup.Dedup.paragraphDedup(
          tbl(s, dir, "documents"), "doc_id", "text", ParaWindow)
        .orderBy("doc_id")),

    // data-skipping effectiveness: the same rows laid out equi-depth-
    // clustered vs hash-scattered into 32 files, per-file min/max
    // stats, and the file/row cost of a range predicate under each —
    // the measured "why sorted layout matters" number (the clustered
    // layout touches ~2 files, the hash layout all 32). Assignments
    // are pure maps off broadcast sketch cuts; stats are one
    // map-side-combined aggregate per layout
    "layout_skipping" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      graft.operators.ZOrder.skippingReport(li, rowKey,
          "l_extendedprice", SkipLo, SkipHi, SkipFiles, k = SkipK)
        .orderBy("layout")
    }),

    // temperature-scaled mixture resampling (alpha = 0.5): quotas
    // derived from observed counts via sqrt — IEEE-exact on both
    // engines, summed in the same ascending-lang fold — then exact
    // per-lang bottom-quota by the md5 hash order. The head language
    // flattens, tails over-represent, and the exact sampled set
    // replays row-for-row in DuckDB
    "sample_temperature" -> ((s, dir) =>
      TemperatureMixture(tbl(s, dir, "documents"), "lang", TempTotal,
          Seq("doc_id"), hash = Md5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")),

    // EXACT heavy hitters in two bounded-state passes: a mergeable
    // Misra-Gries sketch (k counters per task, map-side combined —
    // the superset guarantee means no true heavy key can be missed)
    // plus one exact count over only the surviving candidates. The
    // oracle runs the full GROUP BY ... HAVING — exactness, not
    // approximation, is what the gate verifies
    "agg_heavy_hitters" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val key = when(col("l_orderkey") % 3 === 0,
          concat(lit("hot"), col("l_orderkey") % 2))
        .otherwise(concat(lit("cold"), col("l_partkey")))
      HeavyHitters.exact(li, key, HhShare)
        .orderBy("k")
    }),

    // per-group heavy hitters: one grouped MG pass (k counters per
    // group), exact verify over candidate (group, key) pairs only —
    // "top domains per language over 100 TB" in two scans
    "agg_heavy_hitters_grouped" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val key = when(col("l_partkey") % 5 === 0,
          concat(lit("hot"), col("l_partkey") % 2))
        .otherwise(concat(lit("c"), col("l_partkey")))
      HeavyHitters.exactGrouped(li, col("l_returnflag"), key, HhShare)
        .orderBy("g", "k")
    }))

  val oracles: Map[String, String] = Map(

    "layout_compaction" ->
      s"""WITH f AS (
           SELECT l_orderkey % $CompactFiles AS file_id,
             (sum(l_quantity) * 100)::BIGINT AS bytes
           FROM lineitem GROUP BY 1),
         c AS (SELECT file_id, bytes,
             coalesce(sum(bytes) OVER (ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS cum_before
           FROM f)
       SELECT (cum_before // $CompactTarget)::BIGINT AS bin,
         count(*)::BIGINT AS n_files, sum(bytes)::BIGINT AS total_bytes
       FROM c GROUP BY 1 ORDER BY 1""",

    "sample_temperature" ->
      s"""WITH c AS (SELECT lang, count(*)::BIGINT AS n
             FROM documents GROUP BY 1),
         w AS (SELECT lang, n, sqrt(n::DOUBLE) AS w,
             sum(sqrt(n::DOUBLE)) OVER (ORDER BY lang
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM c),
         q AS (SELECT lang,
             least(n, CAST(floor($TempTotal * w / (max(cum) OVER ()))
               AS BIGINT)) AS quota
           FROM w),
         r AS (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM documents)
       SELECT r.lang, r.doc_id
       FROM r JOIN q USING (lang) WHERE rn <= quota
       ORDER BY lang, doc_id""",

    "agg_kmv_grouped" ->
      s"""WITH d AS (SELECT DISTINCT event_type AS g,
             CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15))
               AS BIGINT) AS h
           FROM events WHERE event_id IS NOT NULL),
         s AS (SELECT g, h FROM (
             SELECT g, h, row_number() OVER (PARTITION BY g
               ORDER BY h) AS rk FROM d) t
           WHERE rk <= $KmvGK),
         a AS (SELECT g, count(*) AS n, max(h) AS vk FROM s GROUP BY 1),
         tru AS (SELECT event_type AS g,
             count(DISTINCT event_id)::BIGINT AS true_distinct
           FROM events GROUP BY 1)
       SELECT a.g, tru.true_distinct,
         round(CASE WHEN a.n < $KmvGK THEN a.n::DOUBLE
           ELSE ${KmvGK - 1}.0 / (a.vk / 1152921504606846976.0) END, 4)
           AS kmv_est
       FROM a JOIN tru USING (g) ORDER BY g""",

    "stream_heavy_hitters" ->
      s"""WITH t AS (
           SELECT CASE WHEN user_id % 3 = 0
                       THEN 'hot' || (user_id % 2)::VARCHAR
                       ELSE 'u' || user_id::VARCHAR END AS k
           FROM events),
         tot AS (SELECT count(*)::BIGINT AS n FROM t)
       SELECT k, count(*)::BIGINT AS cnt,
         count(*) / n::DOUBLE AS share
       FROM t, tot GROUP BY k, n
       HAVING count(*) > n * $HhStreamShare
       ORDER BY k""",

    "scalar_url_parts" ->
      """WITH u AS (
           SELECT event_id,
             (CASE WHEN event_id % 2 = 0 THEN 'https' ELSE 'http' END)
             || '://'
             || (CASE WHEN user_id % 4 = 0 THEN 'www.' ELSE '' END)
             || 'site' || (user_id % 20)::VARCHAR || '.example.com'
             || (CASE WHEN user_id % 5 = 0 THEN ':8080' ELSE '' END)
             || (CASE WHEN event_id % 3 <> 0
                 THEN '/p/' || event_id::VARCHAR ELSE '' END)
             || (CASE WHEN event_id % 5 = 0
                 THEN '?ref=u' || user_id::VARCHAR || '&x=1' ELSE '' END)
             || (CASE WHEN event_id % 7 = 0 THEN '#top' ELSE '' END)
               AS url
           FROM events WHERE event_id % 9 = 0),
         h AS (SELECT event_id, url,
             regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)
               AS host
           FROM u)
       SELECT event_id, url,
         regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)
           AS scheme,
         host,
         regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
         regexp_extract(url,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
         regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
       FROM h ORDER BY event_id""",

    "text_paragraph_dedup" ->
      s"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         starts AS (
           SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t), 1),
               $ParaWindow)) AS s
           FROM toks),
         chunks AS (
           SELECT doc_id,
             ((s - 1) // $ParaWindow)::BIGINT AS cidx,
             array_to_string(t[s:s+${ParaWindow - 1}], ' ') AS chunk,
             (doc_id * 1048576 + (s - 1) // $ParaWindow)::BIGINT AS key
           FROM starts),
         canon AS (SELECT chunk, min(key) AS first_key
           FROM chunks GROUP BY 1),
         kept AS (SELECT c.doc_id, c.cidx, c.chunk
           FROM chunks c JOIN canon n
             ON c.chunk = n.chunk AND c.key = n.first_key),
         ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(chunk, ' ' ORDER BY cidx) AS kept_text
           FROM kept GROUP BY 1),
         tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
           FROM chunks GROUP BY 1)
       SELECT tot.doc_id, tot.n_chunks,
         coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
         (tot.n_chunks - coalesce(ka.n_kept, 0))::BIGINT AS n_dropped,
         coalesce(ka.kept_text, '') AS kept_text
       FROM tot LEFT JOIN ka USING (doc_id) ORDER BY doc_id""",

    "layout_skipping" -> {
      val cutsIdx = (1 until SkipFiles).map(i => s"($i)").mkString(", ")
      val touched = s"mn <= $SkipHi AND mx >= $SkipLo"
      s"""WITH s AS (
           SELECT CAST(('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
               l_linenumber::VARCHAR), 1, 15)) AS BIGINT) AS h,
             l_extendedprice::DOUBLE AS v
           FROM lineitem ORDER BY h, v LIMIT $SkipK),
         r AS (SELECT v, h,
             row_number() OVER (ORDER BY v, h) AS rn,
             count(*) OVER () AS n FROM s),
         cuts AS (SELECT r.v AS cut
           FROM (VALUES $cutsIdx) p(i)
           JOIN r ON r.rn = CAST(floor((p.i / $SkipFiles.0) * (r.n - 1))
               AS BIGINT) + 1),
         base AS (SELECT l_extendedprice::DOUBLE AS v,
             CAST(('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
               l_linenumber::VARCHAR), 1, 15)) AS BIGINT) AS h
           FROM lineitem),
         eqf AS (SELECT file, min(v) AS mn, max(v) AS mx,
             count(*)::BIGINT AS n
           FROM (SELECT v, (SELECT count(*) FROM cuts c
               WHERE base.v > c.cut) AS file FROM base)
           GROUP BY 1),
         haf AS (SELECT file, min(v) AS mn, max(v) AS mx,
             count(*)::BIGINT AS n
           FROM (SELECT v, h % $SkipFiles AS file FROM base)
           GROUP BY 1)
       SELECT * FROM (
         SELECT 'equidepth' AS layout, count(*)::BIGINT AS files_total,
           sum(CASE WHEN $touched THEN 1 ELSE 0 END)::BIGINT
             AS files_touched,
           coalesce(sum(CASE WHEN $touched THEN n END), 0)::BIGINT
             AS rows_scanned
         FROM eqf
         UNION ALL
         SELECT 'hash', count(*)::BIGINT,
           sum(CASE WHEN $touched THEN 1 ELSE 0 END)::BIGINT,
           coalesce(sum(CASE WHEN $touched THEN n END), 0)::BIGINT
         FROM haf)
       ORDER BY layout"""
    },

    "agg_heavy_hitters" ->
      s"""WITH t AS (
           SELECT CASE WHEN l_orderkey % 3 = 0
                       THEN 'hot' || (l_orderkey % 2)::VARCHAR
                       ELSE 'cold' || l_partkey::VARCHAR END AS k
           FROM lineitem),
         tot AS (SELECT count(*)::BIGINT AS n FROM t)
       SELECT k, count(*)::BIGINT AS cnt,
         count(*) / n::DOUBLE AS share
       FROM t, tot GROUP BY k, n
       HAVING count(*) > n * $HhShare
       ORDER BY k""",

    "agg_heavy_hitters_grouped" ->
      s"""WITH t AS (
           SELECT l_returnflag AS g,
             CASE WHEN l_partkey % 5 = 0
                  THEN 'hot' || (l_partkey % 2)::VARCHAR
                  ELSE 'c' || l_partkey::VARCHAR END AS k
           FROM lineitem),
         tot AS (SELECT g, count(*)::BIGINT AS n FROM t GROUP BY g)
       SELECT t.g, k, count(*)::BIGINT AS cnt,
         count(*) / n::DOUBLE AS share
       FROM t JOIN tot USING (g)
       GROUP BY t.g, k, n
       HAVING count(*) > n * $HhShare
       ORDER BY g, k""")
}
