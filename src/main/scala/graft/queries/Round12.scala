package graft.queries

import org.apache.spark.sql.functions._
import graft.graph.LabelProp
import graft.operators.{Cooccur, KsDrift, Pareto, Resample}
import graft.textanalysis.InvertedIndex

/** Round-12 gates: Pareto frontier, label propagation, frequent pairs,
  * exact KS drift, linear interpolation, inverted index + lookup. Each
  * Spark query has a DuckDB oracle generated from the same constants. */
object Round12 extends GateBatch {

  /** Co-occurrence constants: items are l_partkey mod 61 (61 synthetic
    * SKUs keep pair density healthy at every SF — raw part keys are too
    * sparse for any pair to repeat at sf0.001), support 8 baskets. */
  private val CoItems = 61
  private val CoMinSup = 8L

  /** LPA rounds over the customer↔supplier trade graph (same edge set
    * as `graph_pagerank`, re-encoded to longs: customers even,
    * suppliers odd — parity keeps the two id spaces disjoint). */
  private val LpaRounds = 3

  /** Interpolation fixture: 50 user lanes, every 7th event's value
    * masked to null so the series has real gaps at every SF. */
  private val InterpKeys = 50
  private val InterpGap = 7

  /** Inverted-index df window: minDf 2 trims hapax noise; maxDf is
    * 78% of the corpus — RELATIVE, so the stopword cut engages at
    * every SF (the synthetic vocabulary's dfs scale with the doc
    * count; any absolute cap is either inert at sf0.001 or total at
    * sf0.1). 0.78 splits this corpus's 31-term vocabulary roughly in
    * half (15/16/28 terms survive at sf0.001/0.01/0.1) — the cut is
    * exercised AND the output stays rich. */
  private val IdxMinDf = 2L
  private val IdxMaxDfFrac = 0.78

  /** Conjunctive-lookup terms (all in the synthetic vocabulary at
    * every SF; the lookup index is built uncapped so the gate isolates
    * lookup semantics from the df window). */
  private val LookupTerms = Seq("join", "window", "hash")

  /** Point-in-time lag: features read as of 1 hour (in µs) before each
    * fact — the anti-leakage margin of a feature-store join. */
  private val PitLagUs = 3600000000L

  val defs: Map[String, Q] = Map(

    // Pareto frontier of (price, size) over part — the skyline rows no
    // other part beats on both dims. Distinct-pair collapse first, then
    // the sort-scan rule decomposed into equi-depth lanes + a two-level
    // prefix-min (never a one-task window); the oracle runs the
    // quadratic NOT EXISTS dominance filter
    "sort_pareto" -> ((s, dir) =>
      Pareto.skyline2D(tbl(s, dir, "part"),
          col("p_retailprice"), col("p_size"))
        .orderBy("x", "y")),

    // synchronous label propagation on the trade graph: 3 deterministic
    // rounds, most-frequent-neighbor-label with min-label tie-break —
    // one equi-join + one partial-agg argmax per round, no windows.
    // The oracle unrolls the identical recurrence as CTEs
    "graph_label_prop" -> ((s, dir) => {
      // shared trade multigraph (Extensions.tradeEdgesFor),
      // re-encoded per gate
      val edges = Extensions.tradeEdgesFor(s, dir)
        .select((col("cust") * 2).as("s"), (col("supp") * 2 + 1).as("d"))
      LabelProp(edges, "s", "d", LpaRounds).orderBy("node")
    }),

    // frequent co-occurring item pairs with the A-Priori prune:
    // infrequent items are dropped BEFORE any pair is generated, so
    // the self-join runs only over frequent-item occurrences — the
    // downward-closure property that keeps basket mining off the
    // quadratic pair space at 100 TB
    "agg_cooccur_pairs" -> ((s, dir) =>
      Cooccur.frequentPairs(tbl(s, dir, "lineitem"),
          col("l_orderkey"), col("l_partkey") % CoItems, CoMinSup)
        .orderBy("item_a", "item_b")),

    // exact two-sample KS statistic between returnflag populations of
    // l_extendedprice: the binning-free drift number, computed over
    // the pooled distinct values with the laned two-level prefix-sum —
    // the oracle runs the one-window SQL form of the same ECDF max
    "audit_drift_ks" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      KsDrift.ks(
        li.where(col("l_returnflag") === "A"),
        li.where(col("l_returnflag") === "N"),
        "l_extendedprice")
    }),

    // linear gap interpolation per user lane: every 7th value masked,
    // repaired from the bracketing observations (leading gaps
    // backfill, trailing gaps carry forward); both engines evaluate
    // the identical three-op IEEE expression and round once at the
    // edge
    "window_interpolate" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("user_id").isNotNull && col("event_id").isNotNull)
        .select((col("user_id") % InterpKeys).as("k"), col("event_id"),
          when(col("event_id") % InterpGap === 0, lit(null))
            .otherwise(col("value")).cast("double").as("v"))
      Resample.interpolateLinear(ev, Seq("k"), "event_id", "v", "vi")
        .select(col("k"), col("event_id"),
          (floor(col("vi") * 1e6 + 0.5) / 1e6).as("v_interp"))
        .orderBy("k", "event_id")
    }),

    // df-windowed inverted index over the documents corpus: two-pass
    // build (df counts first, postings only for surviving terms — no
    // task ever buffers a posting list past the cap), sorted posting
    // lists joined to a string for cross-engine hashing
    "text_inverted_index" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val maxDf = math.floor(IdxMaxDfFrac * docs.count()).toLong
      InvertedIndex.build(docs, "doc_id", "text", IdxMinDf, maxDf)
        .select(col("term"), col("df"),
          array_join(col("postings"), ",").as("postings"))
        .orderBy("term")
    }),

    // conjunctive (AND) lookup against an uncapped index: explode the
    // matching posting lists only — never a corpus scan — and keep the
    // doc ids present in all of them
    "text_index_lookup" -> ((s, dir) => {
      val idx = InvertedIndex.build(tbl(s, dir, "documents"),
        "doc_id", "text")
      InvertedIndex.lookupAll(idx, LookupTerms)
        .orderBy("doc_id")
    }),

    // BM25 served from the index: the same query and the same oracle
    // as the corpus-scan `text_bm25` gate — per-query work is the
    // query terms' posting slices + the doc-length table, the text
    // never re-tokenizes. Bit-identity with the scan scorer is
    // engineered (plan-literal pivot, same fixed-order score
    // expression) and separately spec-pinned
    "text_index_bm25" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      InvertedIndex.bm25FromIndex(
          InvertedIndex.postings(docs, "doc_id", "text"),
          InvertedIndex.docStats(docs, "doc_id", "text"),
          "doc_id", Round7.Bm25Terms)
        .orderBy("doc_id")
    }),

    // point-in-time feature join — the leakage-free feature-store
    // capstone composing pipeline_scd2's versioned dimension with the
    // as-of join: each purchase fact reads the user's feature value AS
    // OF one hour before the event (per-(user, instant) versions
    // collapse by max event_id, so both engines pick the same row).
    // The oracle is DuckDB's native ASOF LEFT JOIN
    "pipeline_feature_pit" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val us = expr("ts div 1000")
      val dim = ev.groupBy(col("user_id"), us.as("valid_from"))
        .agg(expr("max_by(value, event_id)").as("feature"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          (us - PitLagUs).as("q_us"))
      graft.operators.AsOfJoin(facts, dim, Seq("user_id"),
          leftTime = "q_us", rightTime = "valid_from",
          payload = Seq("valid_from", "feature"))
        .orderBy("event_id")
    }))

  /** DuckDB replay of [[graft.graph.LabelProp]]: the same synchronous
    * recurrence unrolled — per round, neighbor-label counts then the
    * (cnt desc, label asc) argmax via one row_number window. */
  private def labelPropOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""n$r AS (SELECT u.a, l.label, count(*)::BIGINT AS cnt
             FROM und u JOIN l${r - 1} l ON u.b = l.node GROUP BY 1, 2),
         l$r AS (SELECT a AS node, label FROM (
               SELECT a, label, row_number() OVER (PARTITION BY a
                 ORDER BY cnt DESC, label ASC) AS rn FROM n$r)
             WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a,
             l_suppkey * 2 + 1 AS b
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       und AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
       l0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
       $steps
       SELECT node, label FROM l$rounds ORDER BY node"""
  }

  val oracles: Map[String, String] = Map(

    "sort_pareto" ->
      """WITH p AS (SELECT p_retailprice::DOUBLE AS x,
             p_size::DOUBLE AS y, count(*)::BIGINT AS n_rows
           FROM part GROUP BY 1, 2)
         SELECT x, y, n_rows FROM p q
         WHERE NOT EXISTS (SELECT 1 FROM p d
           WHERE d.x <= q.x AND d.y <= q.y
             AND (d.x < q.x OR d.y < q.y))
         ORDER BY x, y""",

    "graph_label_prop" -> labelPropOracleSql(LpaRounds),

    "agg_cooccur_pairs" ->
      s"""WITH occ AS (SELECT DISTINCT l_orderkey AS b,
             (l_partkey % $CoItems)::BIGINT AS i FROM lineitem),
         freq AS (SELECT i FROM occ GROUP BY i
           HAVING count(*) >= $CoMinSup),
         pr AS (SELECT o.b, o.i FROM occ o JOIN freq f USING (i))
         SELECT l.i AS item_a, r.i AS item_b,
           count(*)::BIGINT AS pair_cnt
         FROM pr l JOIN pr r ON l.b = r.b AND l.i < r.i
         GROUP BY 1, 2 HAVING count(*) >= $CoMinSup
         ORDER BY 1, 2""",

    "audit_drift_ks" ->
      """WITH a AS (SELECT l_extendedprice::DOUBLE AS v FROM lineitem
           WHERE l_returnflag = 'A' AND l_extendedprice IS NOT NULL),
         b AS (SELECT l_extendedprice::DOUBLE AS v FROM lineitem
           WHERE l_returnflag = 'N' AND l_extendedprice IS NOT NULL),
         vals AS (SELECT v, sum(ca)::BIGINT AS ca, sum(cb)::BIGINT AS cb
           FROM (SELECT v, 1 AS ca, 0 AS cb FROM a
                 UNION ALL SELECT v, 0, 1 FROM b)
           GROUP BY v),
         cum AS (SELECT
             sum(ca) OVER (ORDER BY v)::DOUBLE AS cuma,
             sum(cb) OVER (ORDER BY v)::DOUBLE AS cumb,
             (SELECT count(*) FROM a)::DOUBLE AS na,
             (SELECT count(*) FROM b)::DOUBLE AS nb
           FROM vals)
         SELECT floor(max(abs(cuma / na - cumb / nb)) * 1000000 + 0.5)
             / 1000000 AS ks_stat,
           max(na)::BIGINT AS n_base, max(nb)::BIGINT AS n_current
         FROM cum""",

    "window_interpolate" ->
      s"""WITH s AS (SELECT (user_id % $InterpKeys)::BIGINT AS k,
             event_id,
             CASE WHEN event_id % $InterpGap = 0 THEN NULL
               ELSE value::DOUBLE END AS v
           FROM events
           WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
         f AS (SELECT k, event_id, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL
               THEN event_id::DOUBLE END IGNORE NULLS) OVER wp AS pt,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL
               THEN event_id::DOUBLE END IGNORE NULLS) OVER wn AS nt
           FROM s
           WINDOW wp AS (PARTITION BY k ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY k ORDER BY event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT k, event_id,
           floor((CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (event_id::DOUBLE - pt) / (nt - pt)
             END) * 1000000 + 0.5) / 1000000 AS v_interp
         FROM f ORDER BY k, event_id""",

    "text_inverted_index" ->
      s"""WITH td AS (SELECT DISTINCT doc_id, lower(w) AS term FROM (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
             FROM documents)
           WHERE length(w) > 0)
         SELECT term, count(*)::BIGINT AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
         FROM td GROUP BY term
         HAVING count(*) >= $IdxMinDf AND count(*) <=
           floor($IdxMaxDfFrac * (SELECT count(*) FROM documents))
         ORDER BY term""",

    "text_index_lookup" ->
      s"""WITH td AS (SELECT DISTINCT doc_id, lower(w) AS term FROM (
             SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
             FROM documents)
           WHERE length(w) > 0)
         SELECT doc_id FROM td
         WHERE term IN (${LookupTerms.map(t => s"'$t'").mkString(", ")})
         GROUP BY doc_id
         HAVING count(DISTINCT term) = ${LookupTerms.distinct.size}
         ORDER BY doc_id""",

    // the index-served scorer must land on the very same numbers the
    // corpus-scan gate pins — same oracle, generated from the same
    // term constants
    "text_index_bm25" -> Round7.oracles("text_bm25"),

    "pipeline_feature_pit" ->
      s"""WITH dim AS (SELECT user_id, epoch_us(ts) AS valid_from,
             arg_max(value, event_id) AS feature
           FROM events GROUP BY 1, 2),
         f AS (SELECT user_id, event_id,
             epoch_us(ts) - $PitLagUs AS q_us
           FROM events WHERE event_type = 'purchase')
         SELECT f.user_id, f.event_id, f.q_us, d.valid_from, d.feature
         FROM f ASOF LEFT JOIN dim d
           ON f.user_id = d.user_id AND d.valid_from <= f.q_us
         ORDER BY event_id""")
}
