package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, FuzzyJoin, WeightedTopKSample}
import graft.graph.PageRank
import graft.streaming.EventWindows
import graft.textanalysis.TextAnalysis

/** Round-7 analytics batch: skew-salted aggregation, per-group top-k /
  * mode, funnel + cohort retention, quantile bucketing and filtering,
  * fixed-width histograms, set intersection, unpivot, and char-entropy
  * quality scoring. Every gate pairs the distributed Spark shape with a
  * DuckDB-replayable oracle.
  */
object Analytics7 extends GateBatch {

  /** One week in nanoseconds (events.ts is BIGINT ns under nanosAsLong). */
  private val WeekNs = 604800L * 1000000000L

  /** Decile grid for the quantile-bucket gate. */
  private val DecileProbs: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** The funnel gate's ordered steps. */
  private[graft] val FunnelSteps = Seq("view", "click", "purchase")

  /** HLL gate parameters — shared by the Spark query and the generated
    * oracle SQL so the two sides cannot drift. */
  private val HllP = 12
  private val HllKeys = Seq("event_id", "user_id")

  /** Register width for the grouped HLL gate (smaller m: per-group
    * cardinalities are per-group, not corpus-wide). */
  private val HllGroupP = 10

  /** Per-source quota for the curate_source_cap gate. */
  private val SourceCapK = 10

  val defs: Map[String, Q] = Map(
    // skewed low-cardinality key (5 event types): two-stage salted agg,
    // result row-identical to the direct groupBy the oracle computes
    "agg_salted_skew" -> ((s, dir) =>
      Analytics.saltedStats(tbl(s, dir, "events"), Seq("event_type"),
          "value", saltCols = Seq("event_id"), salts = 16)
        .orderBy("event_type")),

    // top-3 orders per status; salts=8 exercises the skew-proof two-level
    // window (per-lane local top-k, then per-group top-k over <= 8*3 rows)
    "sort_topk_group" -> ((s, dir) =>
      Analytics.topKPerGroup(tbl(s, dir, "orders"), Seq("o_orderstatus"),
          "o_totalprice", k = 3, tieCols = Seq("o_orderkey"), salts = 8)
        .select("o_orderstatus", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_orderstatus", "rk")),

    // the same top-3 through the CUSTOM PHYSICAL OPERATOR (logical node
    // -> strategy -> partial/final exec, bounded k-row buffers, no
    // window sort) — the extension-ladder tier inside a correctness gate
    "sort_topk_group_exec" -> ((s, dir) =>
      Analytics.topKPerGroupExec(tbl(s, dir, "orders"),
          Seq("o_orderstatus"), "o_totalprice", k = 3,
          tieCols = Seq("o_orderkey"))
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .orderBy(col("o_orderstatus"), col("o_totalprice").desc,
          col("o_orderkey"))),

    // fixed-size mergeable count-min sketch (4×512 cells) built in one
    // pure-map pass + one partial-agg shuffle; probe estimates are
    // min-over-rows cell counts, always >= the true count — the
    // bounded-memory frequency summary for a 100 TB key stream
    "agg_cms_estimate" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sketch = Analytics.cmsSketch(ev, "user_id", depth = 4, width = 512)
      val probes = ev.select("user_id").filter(col("user_id") < 20).distinct()
      val tru = ev.filter(col("user_id") < 20).groupBy("user_id")
        .agg(count(lit(1)).as("true_cnt"))
      Analytics.cmsEstimate(sketch, probes, "user_id", depth = 4, width = 512)
        .join(tru, Seq("user_id"))
        .select(col("user_id"), col("true_cnt"), col("cms_est"),
          (col("cms_est") - col("true_cnt")).as("overestimate"))
        .orderBy("user_id")
    }),

    // single-pass approximate percentiles from a 100-bin mergeable
    // histogram (error <= one bin width): the cumulative window runs on
    // the bin table, the corpus is touched exactly once
    "agg_hist_percentile" -> ((s, dir) =>
      Analytics.histogramPercentiles(tbl(s, dir, "events"), "value",
          lo = 0.0, width = 5.0, nBins = 100,
          ps = Seq(0.5, 0.9, 0.95, 0.99))
        .orderBy("p")),

    // sketch-based join cardinality: min-over-rows inner product of two
    // CMS sketches estimates |clicks ⋈ purchases| on user_id — an upper
    // bound computed from two fixed-size summaries, never the join
    // itself; how a planner sizes a 100TB x 100TB join for
    // broadcast-vs-shuffle without running it
    "agg_cms_join_size" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val a = ev.filter(col("event_type") === "click")
      val b = ev.filter(col("event_type") === "purchase")
      val est = Analytics.cmsJoinSizeEstimate(
        Analytics.cmsSketch(a, "user_id", depth = 4, width = 512),
        Analytics.cmsSketch(b, "user_id", depth = 4, width = 512))
      val tru = a.groupBy("user_id").agg(count(lit(1)).as("na"))
        .join(b.groupBy("user_id").agg(count(lit(1)).as("nb")),
          Seq("user_id"))
        .agg(sum(col("na") * col("nb")).as("true_size"))
      est.crossJoin(broadcast(tru))
        .select(col("true_size"), col("join_size_est"),
          (col("join_size_est") - col("true_size")).as("overestimate"))
    }),

    // fully REPLAYABLE HyperLogLog (md5 family, 2^12 registers, exact
    // integer Z accumulation): the value-exact sibling of the built-in
    // `agg_approx_distinct` (whose gate hash-matches on error-bound
    // booleans, not raw sketch values) — DuckDB rebuilds the
    // identical register table and lands on the identical estimate.
    // user_id exercises linear counting, event_id the raw harmonic path
    "agg_hll_replayable" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      HllKeys.map { k =>
        Analytics.hllEstimate(Analytics.hllRegisters(ev, k, HllP), HllP)
          .crossJoin(broadcast(
            ev.agg(countDistinct(col(k)).as("true_distinct"))))
          .select(lit(k).as("key"), col("true_distinct"), col("hll_est"))
      }.reduce(_ unionByName _).orderBy("key")
    }),

    // grouped HLL: COUNT(DISTINCT user) per event type from one
    // register pass (<= |groups|*2^p cells) — the scale answer to
    // exact grouped count-distinct, which shuffles every (g, x) pair
    "agg_hll_grouped" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val est = Analytics.hllEstimateGrouped(
        Analytics.hllRegistersGrouped(ev, Seq("event_type"), "user_id",
          HllGroupP), Seq("event_type"), HllGroupP)
      val tru = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("true_distinct"))
      est.join(tru, Seq("event_type"))
        .select(col("event_type"), col("true_distinct"), col("hll_est"))
        .orderBy("event_type")
    }),

    // per-group single-pass percentiles: the cumulative windows run on
    // the |groups| x nBins bin table, never on raw rows
    "agg_hist_percentile_grouped" -> ((s, dir) =>
      Analytics.histogramPercentilesGrouped(tbl(s, dir, "events"),
          "event_type", "value", lo = 0.0, width = 5.0, nBins = 100,
          ps = Seq(0.5, 0.9, 0.95, 0.99))
        .orderBy("event_type", "p")),

    // per-source document quota (the "cap every domain" curation pass):
    // keep the k highest-quality docs per source, deterministic ties —
    // the salted two-level top-k, so one hot domain never sorts on a
    // single task
    "curate_source_cap" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        col("source"), TextAnalysis.qualityScore(col("text")).as("quality"))
      Analytics.topKPerGroup(docs, Seq("source"), "quality",
          k = SourceCapK, tieCols = Seq("doc_id"), salts = 8)
        .select("source", "doc_id", "quality", "rk")
        .orderBy("source", "rk")
    }),

    // most frequent priority per status, ties to the smallest value;
    // the rank window runs on the counted table, never raw rows
    "agg_mode" -> ((s, dir) =>
      Analytics.modePerGroup(tbl(s, dir, "orders"), Seq("o_orderstatus"),
          "o_orderpriority")
        .orderBy("o_orderstatus")),

    // view -> click -> purchase conversion, greedy earliest-match; a
    // chain of user-key equi-joins, no per-user event collection
    "funnel_steps" -> ((s, dir) =>
      Analytics.funnel(tbl(s, dir, "events"), "user_id", "event_type",
          "ts", FunnelSteps)
        .orderBy("step_idx")),

    // weekly cohort x week-offset distinct-user retention grid
    "cohort_retention" -> ((s, dir) =>
      Analytics.cohortRetention(tbl(s, dir, "events"), "user_id",
          EventWindows.nsDiv(col("ts"), WeekNs))
        .orderBy("cohort_week", "week_offset")),

    // decile assignment by exact broadcast cutpoints — the 100 TB-safe
    // replacement for a global ntile() window — then per-bucket totals
    "agg_quantile_bucket" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val cuts = Analytics.quantileCutpoints(orders, "o_totalprice",
        DecileProbs)
      Analytics.bucketByCutpoints(orders, "o_totalprice", cuts)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("v_sum"))
        .orderBy("bucket")
    }),

    // keep documents at or above the corpus p75 quality: one 1-row
    // exact-percentile reduce broadcast back as a map-side filter
    "filter_quantile" -> ((s, dir) => {
      val q = tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val cut = Analytics.quantileCutpoints(q, "quality", Seq(0.75))
      q.join(broadcast(cut))
        .filter(col("quality") >= round(element_at(col("__cuts"), 1), 6))
        .select("doc_id", "quality")
        .orderBy("doc_id")
    }),

    // fixed-width price histogram: pure-map bin id + one partial-agg
    // shuffle; constant bounds, no extra min/max pass
    "agg_histogram" -> ((s, dir) =>
      Analytics.histogram(tbl(s, dir, "lineitem"), "l_extendedprice",
          lo = 0.0, width = 5000.0)
        .orderBy("bin")),

    // customers appearing in BOTH order-status key sets (distinct
    // INTERSECT semantics, same as the SQL set operator)
    "set_intersect" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
        .intersect(
          o.filter(col("o_orderstatus") === "O")
            .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    }),

    // wide-to-long melt of the lineitem measures (Dataset.unpivot);
    // narrow op — each input row fans out to 4, no shuffle
    "project_unpivot" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // character-unigram entropy (gibberish/boilerplate signal); zero
    // shuffle — the whole computation happens within each row
    "text_entropy" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.charEntropy(col("text")).as("entropy"))
        .orderBy("doc_id")),

    // token-blocked Levenshtein self-join over DISTINCT part names —
    // verify fused into the join condition, never all-pairs
    "join_fuzzy" -> ((s, dir) =>
      FuzzyJoin.selfPairs(tbl(s, dir, "part"), "p_name", maxDist = 3)
        .orderBy("a_name", "b_name")),

    // per-type z-score outliers (|z| >= 2.5, z rounded before the cut
    // so the kept set is ulp-stable across engines)
    "filter_outliers" -> ((s, dir) =>
      Analytics.zscoreOutliers(tbl(s, dir, "events"), Seq("event_type"),
          "value", threshold = 2.5)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")),

    // robust per-type location/scale: exact median + MAD
    "agg_mad" -> ((s, dir) =>
      Analytics.madStats(tbl(s, dir, "events"), Seq("event_type"), "value")
        .orderBy("event_type")),

    // per-type winsorization: clip values into the [p01, p99] band
    // (outlier capping; cutpoints 6-dp-rounded for cross-engine parity)
    "scalar_winsorize" -> ((s, dir) =>
      Analytics.winsorize(tbl(s, dir, "events"), Seq("event_type"), "value",
          pLo = 0.01, pHi = 0.99)
        .select("event_id", "event_type", "value", "clipped")
        .orderBy("event_id")),

    // Morton/Z-order value over (price, customer) quantile ranks — the
    // multi-column layout key behind OPTIMIZE ZORDER; quantile
    // bucketing + bit interleave, fully replayable cross-engine
    "scalar_zorder" -> ((s, dir) =>
      graft.operators.ZOrder.withZValue(tbl(s, dir, "orders"),
          Seq("o_totalprice", "o_custkey"), bits = 4, zCol = "z")
        .select("o_orderkey", "z")
        .orderBy("o_orderkey")),

    // population skewness + excess kurtosis from RAW moments, spelled
    // out identically on both engines — the built-ins disagree on
    // bias correction (Spark population, DuckDB sample-adjusted)
    "agg_moments" -> ((s, dir) => {
      val x = col("value")
      val e1 = avg(x); val e2 = avg(x * x)
      val e3 = avg(x * x * x); val e4 = avg(x * x * x * x)
      val m2 = e2 - e1 * e1
      val m3 = e3 - lit(3) * e1 * e2 + lit(2) * e1 * e1 * e1
      val m4 = e4 - lit(4) * e1 * e3 + lit(6) * e1 * e1 * e2 -
        lit(3) * e1 * e1 * e1 * e1
      tbl(s, dir, "events").groupBy("event_type")
        .agg(round(m3 / pow(m2, 1.5), 4).as("skew"),
          round(m4 / (m2 * m2) - lit(3), 4).as("exkurt"))
        .orderBy("event_type")
    }),

    // ordered string aggregation: each status's top-5 order keys joined
    // in rank order — the LISTAGG/string_agg report formatting op
    "agg_string_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .groupBy("o_orderstatus")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rk"), col("o_orderkey")))),
          e => e.getField("o_orderkey").cast("string")), ",").as("top_keys"))
        .orderBy("o_orderstatus")
    }),

    // per-group Pearson correlation + sample covariance: one map-side
    // combining aggregation (Spark's CentralMomentAgg family)
    "agg_correlation" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
            .as("qty_price_cov"))
        .orderBy("l_returnflag")),

    // per-group simple linear regression (slope/intercept/r2) of price
    // on quantity — the built-in regr_* aggregates, replayable in DuckDB
    "agg_regression" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2)
            .as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4)
            .as("r2"))
        .orderBy("l_returnflag")),

    // incremental aggregate maintenance: a before/after change feed
    // (inserts %7=0, updates %11=3 at +10%, deletes %13=5) applied to a
    // per-customer (cnt, sum) aggregate via one O(delta) join — the
    // oracle RECOMPUTES the final state from scratch, proving the
    // incremental arithmetic lands on the identical table
    "cdc_incremental_agg" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val base = o.filter(col("o_orderkey") % 7 =!= 0)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("v_sum"))
      val ins = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey"), lit(null).cast("double").as("old_v"),
          col("o_totalprice").as("new_v"))
      val upd = o.filter(col("o_orderkey") % 7 =!= 0 &&
          col("o_orderkey") % 11 === 3)
        .select(col("o_custkey"), col("o_totalprice").as("old_v"),
          // floor(x*100+0.5)/100, NOT round(): identical IEEE ops in any
          // engine, where round()'s half-way tie handling differs
          (floor(col("o_totalprice") * 1.1 * 100 + 0.5) / 100).as("new_v"))
      val del = o.filter(col("o_orderkey") % 7 =!= 0 &&
          col("o_orderkey") % 11 =!= 3 && col("o_orderkey") % 13 === 5)
        .select(col("o_custkey"), col("o_totalprice").as("old_v"),
          lit(null).cast("double").as("new_v"))
      graft.operators.IncrementalAgg.maintain(base,
          ins.unionAll(upd).unionAll(del), "o_custkey", "old_v", "new_v")
        .select(col("o_custkey"), col("cnt"),
          round(col("v_sum"), 2).as("v_sum"))
        .orderBy("o_custkey")
    }),

    // the IVM hybrid for non-self-maintainable extrema: count/sum by
    // delta, min/max by delta on inserts and an O(touched) re-aggregate
    // of ONLY the invalidated keys' post-change detail rows — the
    // oracle recomputes the whole final state from scratch, proving the
    // hybrid lands on the identical table (min/max emitted raw: both
    // engines hold the same exact doubles)
    "cdc_incremental_agg2" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val base = o.filter(col("o_orderkey") % 7 =!= 0)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("v_sum"),
          min("o_totalprice").as("v_min"), max("o_totalprice").as("v_max"))
      val ins = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey"), lit(null).cast("double").as("old_v"),
          col("o_totalprice").as("new_v"))
      val upd = o.filter(col("o_orderkey") % 7 =!= 0 &&
          col("o_orderkey") % 11 === 3)
        .select(col("o_custkey"), col("o_totalprice").as("old_v"),
          (floor(col("o_totalprice") * 1.1 * 100 + 0.5) / 100).as("new_v"))
      val del = o.filter(col("o_orderkey") % 7 =!= 0 &&
          col("o_orderkey") % 11 =!= 3 && col("o_orderkey") % 13 === 5)
        .select(col("o_custkey"), col("o_totalprice").as("old_v"),
          lit(null).cast("double").as("new_v"))
      // post-change fact rows: inserts as-is, survivors with the update
      // rule applied — the same "finals" set the oracle recomputes from
      val detail = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_custkey"), col("o_totalprice").as("v"))
        .unionAll(o.filter(col("o_orderkey") % 7 =!= 0 &&
            !(col("o_orderkey") % 11 =!= 3 && col("o_orderkey") % 13 === 5))
          .select(col("o_custkey"),
            when(col("o_orderkey") % 11 === 3,
              floor(col("o_totalprice") * 1.1 * 100 + 0.5) / 100)
              .otherwise(col("o_totalprice")).as("v")))
      graft.operators.IncrementalAgg.maintainFull(base,
          ins.unionAll(upd).unionAll(del), detail, "o_custkey", "v",
          "old_v", "new_v")
        .select(col("o_custkey"), col("cnt"),
          round(col("v_sum"), 2).as("v_sum"), col("v_min"), col("v_max"))
        .orderBy("o_custkey")
    }),

    // deterministic md5 train/val/test split: pure map, same row ->
    // same split in any engine, on any rerun
    "sample_split" -> ((s, dir) =>
      graft.operators.DeterministicSplit(tbl(s, dir, "orders"),
          Seq("o_orderkey"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("o_orderkey", "split")
        .orderBy("o_orderkey")),

    // trailing 1-hour activity per user (RANGE frame on epoch-ns)
    "window_moving_range" -> ((s, dir) =>
      Analytics.trailingRangeAgg(tbl(s, dir, "events"), Seq("user_id"),
          "ts", rangeBack = 3600L * 1000000000L, valueCol = "value")
        .select("event_id", "user_id", "w_sum", "w_n")
        .orderBy("event_id")),

    // exactly-k weighted sample without replacement (A-Res), md5-keyed
    // so DuckDB re-derives the identical 100 documents
    "sample_ares" -> ((s, dir) =>
      WeightedTopKSample(
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality")),
        weight = col("quality"), k = 100, seedCols = Seq("doc_id"))
        .orderBy("doc_id")),

    // per-language quota of quality-weighted docs (A-Res per stratum),
    // md5-keyed so the exact per-stratum samples replay in DuckDB
    "sample_ares_stratified" -> ((s, dir) =>
      graft.operators.StratifiedWeightedTopKSample(
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.qualityScore(col("text")).as("quality")),
        weight = col("quality"), k = 20, strataCols = Seq("lang"),
        seedCols = Seq("doc_id"))
        .orderBy("doc_id")),

    // asymmetric containment pairs: short doc quoted inside a long one
    // (containment 1.0 where Jaccard would be low); windowed oracle
    // variant like dedup_jaccard_pairs
    "dedup_containment" -> ((s, dir) =>
      graft.dedup.Dedup.containmentPairsWindowed(
        tbl(s, dir, "documents"), "doc_id", "text", window = 25,
        threshold = 0.9)
        .orderBy("id_a", "id_b")),

    // the production containment path: prefix-filtered token join, NO id
    // window, full recall — the oracle brute-forces all pairs, which is
    // exactly what the prefix filter provably never loses. Gated on a
    // deterministic 10% doc subset: the synthetic corpus draws ~23-word
    // docs from a ~30-word vocabulary, so >half of ALL pairs pass t=0.9
    // and a full-corpus gate at sf0.1 is a ~7M-row output dump — cost
    // that measures the answer's size, not the operator (whose 10x
    // scaling was rehearsed on the full corpus)
    "dedup_containment_scale" -> ((s, dir) =>
      graft.dedup.Dedup.containmentNearDups(
        tbl(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", threshold = 0.9)
        .orderBy("id_a", "id_b")),

    // the O(n) containment DECISION (keep/drop, not pairs): doc i drops
    // iff a smaller-id doc contains >= t of its word-set; the oracle
    // recomputes every doc's smallest container by brute force (same
    // deterministic 10% subset as dedup_containment_scale, same reason)
    "dedup_containment_keep" -> ((s, dir) =>
      graft.dedup.Dedup.containmentRepresentatives(
        tbl(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", threshold = 0.9)
        .orderBy("doc_id")),

    // PER-GROUP quantile buckets: quartile cutpoints per status
    // broadcast back, bucket assignment a pure map (the grouped variant
    // of agg_quantile_bucket's scale-safe ntile replacement)
    "agg_quantile_bucket_grouped" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val cuts = o.groupBy("o_orderstatus")
        .agg(percentile(col("o_totalprice"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("__cuts"))
      o.join(broadcast(cuts), "o_orderstatus")
        .withColumn("bucket",
          aggregate(col("__cuts"), lit(1),
            (acc, c) => acc +
              when(col("o_totalprice") > round(c, 6), 1).otherwise(0)))
        .groupBy("o_orderstatus", "bucket")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("v_sum"))
        .orderBy("o_orderstatus", "bucket")
    }),

    // weighted mean/variance per language (quality-weighted n_chars):
    // single-pass moment formula, identical on both engines
    "agg_weighted_stats" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
        .withColumn("w", TextAnalysis.qualityScore(col("text")))
        .withColumn("x", col("n_chars").cast("double"))
        .filter(col("w") > 0)
      d.groupBy("lang")
        .agg(
          round(sum(col("w") * col("x")) / sum(col("w")), 4).as("wmean"),
          round(sum(col("w") * col("x") * col("x")) / sum(col("w")) -
            pow(sum(col("w") * col("x")) / sum(col("w")), 2), 4)
            .as("wvar"),
          round(sum("w"), 4).as("w_total"))
        .orderBy("lang")
    }),

    // as-of join, forward direction: each purchase's NEXT click
    "asof_join_forward" -> ((s, dir) => {
      val (p, c) = asofSides(s, dir)
      graft.operators.AsOfJoin(p, c, Seq("user_id"), "ts", "click_ts",
        Seq("click_ts", "click_value"), Some("click_id"),
        graft.operators.AsOfJoin.Forward)
        .select(col("user_id"), col("event_id"),
          expr("click_ts div 1000").as("click_us"), col("click_value"))
        .orderBy("event_id")
    }),

    // as-of join, nearest direction: closest click either side, exact
    // ties resolve backward
    "asof_join_nearest" -> ((s, dir) => {
      val (p, c) = asofSides(s, dir)
      graft.operators.AsOfJoin(p, c, Seq("user_id"), "ts", "click_ts",
        Seq("click_ts", "click_value"), Some("click_id"),
        graft.operators.AsOfJoin.Nearest)
        .select(col("user_id"), col("event_id"),
          expr("click_ts div 1000").as("click_us"), col("click_value"))
        .orderBy("event_id")
    }),

    // as-of join with both pandas merge_asof knobs: strict inequality
    // (allow_exact_matches=False) + 2-hour tolerance (farther matches
    // null out)
    "asof_join_tolerance" -> ((s, dir) => {
      val (p, c) = asofSides(s, dir)
      graft.operators.AsOfJoin(p, c, Seq("user_id"), "ts", "click_ts",
        Seq("click_ts", "click_value"), Some("click_id"),
        graft.operators.AsOfJoin.Backward,
        tolerance = Some(7200000000000L), allowExactMatches = false)
        .select(col("user_id"), col("event_id"),
          expr("click_ts div 1000").as("click_us"), col("click_value"))
        .orderBy("event_id")
    }),

    // clustering quality: within-cell sum of squared distances to the
    // centroid (the k-means objective) for the md5-seeded IVF cells —
    // the metric that tells you whether nlist/iters were enough
    "agg_cluster_sse" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val seeded = emb.withColumn("cell", Round7.semSeed(8))
      val cents = seeded.groupBy("cell")
        .agg(array((0 until 64).map(i =>
          avg(col("embedding").getItem(i).cast("double"))): _*).as("c"))
      seeded.join(broadcast(cents), "cell")
        .withColumn("sq", aggregate(
          zip_with(col("embedding").cast("array<double>"), col("c"),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), round(sum("sq"), 4).as("sse"))
        .withColumn("cell", col("cell").cast("long"))
        .orderBy("cell")
    }),

    // referential-integrity audit: orphan counts per FK relation in one
    // result — the data-validation sibling of agg_checksum
    "audit_integrity" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val su = tbl(s, dir, "supplier")
      def orphans(rel: String, child: org.apache.spark.sql.DataFrame,
                  ck: String, parent: org.apache.spark.sql.DataFrame,
                  pk: String) =
        child.join(parent, child(ck) === parent(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_orphans"))
      orphans("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .union(orphans("lineitem.suppkey->supplier", li, "l_suppkey", su,
          "s_suppkey"))
        .union(orphans("orders.custkey->customer", o, "o_custkey", c,
          "c_custkey"))
        .orderBy("relation")
    }),

    // per-group min-max feature scaling to [0,1] (constant groups -> 0)
    "scalar_minmax_scale" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val r = o.groupBy("o_orderstatus")
        .agg(min("o_totalprice").as("__lo"), max("o_totalprice").as("__hi"))
      o.join(broadcast(r), "o_orderstatus")
        .withColumn("scaled",
          when(col("__hi") === col("__lo"), lit(0.0))
            .otherwise(round((col("o_totalprice") - col("__lo")) /
              (col("__hi") - col("__lo")), 6)))
        .select("o_orderkey", "o_orderstatus", "scaled")
        .orderBy("o_orderkey")
    }),

    // rank-distribution windows: percent_rank + cume_dist of each
    // order within its status (complements row_number/ntile coverage)
    "window_rank_dist" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // day-of-week x hour activity profile via pure epoch arithmetic
    // (dow: 1970-01-01 was a Thursday = 4; no timezone machinery on
    // either engine, so the profile is bit-stable cross-engine)
    "agg_seasonality" -> ((s, dir) => {
      val sec = nsToEpochSec(col("ts"))
      tbl(s, dir, "events")
        .withColumn("dow",
          pmod(EventWindows.nsDiv(sec, 86400L) + lit(4), lit(7)).cast("int"))
        .withColumn("hour",
          EventWindows.nsDiv(pmod(sec, lit(86400L)), 3600L).cast("int"))
        .groupBy("dow", "hour")
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("v_avg"))
        .orderBy("dow", "hour")
    }),

    // CUBE: all 2^k grouping combinations (beyond rollup's hierarchy
    // and the explicit GROUPING SETS gate)
    "agg_cube" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
        .orderBy("g_status", "g_prio", "o_orderstatus", "o_orderpriority")),

    // order-independent md5 content checksum of lineitem — the
    // migration-validation primitive; one map pass + 1-row reduce
    "agg_checksum" -> ((s, dir) =>
      Analytics.tableChecksum(tbl(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"))),

    // PQ two-stage retrieval: 32x-compressed codes scanned via ADC
    // lookups, exact rescore of a 300-candidate pool; with this headroom
    // the result IS brute-force top-10, which is what the oracle checks.
    // Codebooks train on a deterministic quarter-sample — the standard
    // PQ practice (codebook quality saturates on a sample, so training
    // cost is bounded by the sample at any corpus size); the exact
    // rescore keeps the result identical either way
    "sim_ann_pq" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(graft.similarity.Similarity.toVec(col("embedding")))
        .head().getSeq[Double](0)
      val model = graft.similarity.ProductQuantizer.fit(
        emb.where(col("vec_id") % 4 === 0),
        "vec_id", "embedding", dim = 64, m = 8, ksub = 32, iters = 1)
      val encoded = graft.similarity.ProductQuantizer.encode(
        emb, "vec_id", "embedding", model)
      graft.similarity.ProductQuantizer.adcRescoreTopK(encoded, emb,
        "vec_id", "embedding", model, qv, candidates = 300, k = 10)
        .withColumn("sim", col("sim") + lit(0.0))
    }),

    // IVFADC: IVF coarse probe -> ADC scan inside probed cells -> exact
    // rescore. nprobe = nlist + 300-candidate headroom => brute-force
    // identity, which is what the oracle checks; production runs
    // nprobe << nlist over a __cell-partitioned store
    "sim_ann_ivfpq" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(graft.similarity.Similarity.toVec(col("embedding")))
        .head().getSeq[Double](0)
      val (assigned, cents) = graft.similarity.Similarity.ivfIndex(
        emb, "vec_id", "embedding", dim = 64, nlist = 8, iters = 1)
      val model = graft.similarity.ProductQuantizer.fit(
        emb.where(col("vec_id") % 4 === 0),
        "vec_id", "embedding", dim = 64, m = 8, ksub = 32, iters = 1)
      val encoded = graft.similarity.ProductQuantizer.encode(
        assigned, "vec_id", "embedding", model)
      graft.similarity.ProductQuantizer.ivfAdcTopK(encoded, cents, emb,
        "vec_id", "embedding", model, qv, nprobe = 8, candidates = 300,
        k = 10)
        .withColumn("sim", col("sim") + lit(0.0))
    }),

    // entity resolution end-to-end: fuzzy pairs -> transitive closure
    // -> canonical representative per entity (min-id member's name)
    "pipeline_entity_resolution" -> ((s, dir) =>
      FuzzyJoin.entityClusters(tbl(s, dir, "part"), "p_name", "p_partkey",
          maxDist = 3)
        .orderBy("name")),

    // 3-iteration PageRank on the customer->supplier trade graph
    "graph_pagerank" -> ((s, dir) => {
      // shared trade multigraph (Extensions.tradeEdgesFor)
      val edges = Extensions.tradeEdgesFor(s, dir)
        .select(concat(lit("c"), col("cust").cast("string")).as("src"),
          concat(lit("s"), col("supp").cast("string")).as("dst"))
      PageRank(edges, "src", "dst", iterations = 3).orderBy("node")
    })
  )

  /** DuckDB replay of [[graft.operators.ZOrder.withZValue]] on
    * (o_totalprice, o_custkey): the interleave terms and quantile grid
    * are generated from the same constants as the Spark plan. */
  private def zorderOracleSql(bits: Int): String = {
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits))
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(((r0 >> $i) & 1) << ${i * 2})",
        s"(((r1 >> $i) & 1) << ${i * 2 + 1})")
    }.mkString(" + ")
    s"""WITH c0 AS (SELECT quantile_cont(o_totalprice,
           [${probs.mkString(", ")}]) AS cuts FROM orders),
       c1 AS (SELECT quantile_cont(o_custkey,
           [${probs.mkString(", ")}]) AS cuts FROM orders),
       r AS (SELECT o_orderkey,
           len(list_filter(c0.cuts, x -> o_totalprice > round(x, 6))) AS r0,
           len(list_filter(c1.cuts, x -> o_custkey > round(x, 6))) AS r1
         FROM orders, c0, c1)
       SELECT o_orderkey, ($terms)::BIGINT AS z
       FROM r ORDER BY o_orderkey"""
  }

  /** The asof_join gate's two sides (purchases probe clicks), shared by
    * the forward and nearest direction gates. */
  private def asofSides(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ev = tbl(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    (purchases, clicks)
  }

  /** The text_quality oracle's scoring CTE, reused by filter_quantile so
    * the two gates cannot drift. Yields q(doc_id, quality). */
  private[queries] val QualitySql =
    """t AS (SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN 0.0
           ELSE len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
           END AS n,
         length(text)::DOUBLE AS len,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
           x -> list_contains(['the','a','and','of','to','in'], x)))::DOUBLE AS stop,
         (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE AS punct,
         length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE AS nospace
         FROM documents),
       q AS (SELECT doc_id,
         floor((least(n / 50.0, 1.0) * 0.3
           + (CASE WHEN n = 0 THEN 0.0 ELSE stop / n END) * 0.3
           + (1.0 - CASE WHEN len = 0 THEN 0.0 ELSE punct / len END) * 0.2
           + least((CASE WHEN n = 0 THEN 0.0 ELSE nospace / n END) / 8.0,
               1.0) * 0.2) * 1000.0 + 0.5) / 1000.0
           AS quality
         FROM t)"""

  /** DuckDB replay of [[Analytics.hllRegisters]] + [[Analytics.hllEstimate]]
    * for one key column, generated from the same constants as the Spark
    * query: same md5 hash family, same `bin()`-length ρ, same
    * exact-integer Z accumulation, same float literals — so the engines
    * can only agree or both be wrong the same way. */
  private def hllOracleSql(keyCol: String, p: Int): String = {
    val m = 1 << p
    val wBits = 60 - p
    val mask = (1L << wBits) - 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numer = alpha * m * m * math.pow(2.0, wBits + 1)
    s"""SELECT '$keyCol' AS key,
       (SELECT count(DISTINCT $keyCol) FROM events)::BIGINT AS true_distinct,
       round(CASE WHEN $numer / z <= ${2.5 * m} AND v > 0
           THEN ${m.toDouble} * ln(${m.toDouble} / v)
           ELSE $numer / z END, 4) AS hll_est
       FROM (SELECT ($m - nonempty) AS v,
           zp + ($m - nonempty) * (1::BIGINT << ${wBits + 1}) AS z
         FROM (SELECT sum(1::BIGINT << (${wBits + 1} - m_reg))::BIGINT AS zp,
             count(*)::BIGINT AS nonempty
           FROM (SELECT hash >> $wBits AS bucket,
               max(CASE WHEN (hash & $mask) = 0 THEN ${wBits + 1}
                   ELSE ${wBits + 1} - length(bin(hash & $mask))::INT
                   END) AS m_reg
             FROM (SELECT CAST(('0x' || substr(md5(CAST($keyCol AS VARCHAR)),
                 1, 15)) AS BIGINT) AS hash FROM events)
             GROUP BY 1)))"""
  }

  /** Grouped variant of [[hllOracleSql]], generated from the same
    * constants. */
  private def hllGroupedOracleSql(groupCol: String, keyCol: String,
                                  p: Int): String = {
    val m = 1 << p
    val wBits = 60 - p
    val mask = (1L << wBits) - 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numer = alpha * m * m * math.pow(2.0, wBits + 1)
    s"""WITH h AS (SELECT $groupCol,
         CAST(('0x' || substr(md5(CAST($keyCol AS VARCHAR)), 1, 15))
           AS BIGINT) AS hash FROM events),
       reg AS (SELECT $groupCol, hash >> $wBits AS bucket,
           max(CASE WHEN (hash & $mask) = 0 THEN ${wBits + 1}
               ELSE ${wBits + 1} - length(bin(hash & $mask))::INT
               END) AS m_reg
         FROM h GROUP BY 1, 2),
       s AS (SELECT $groupCol,
           sum(1::BIGINT << (${wBits + 1} - m_reg))::BIGINT AS zp,
           count(*)::BIGINT AS nonempty FROM reg GROUP BY 1),
       z AS (SELECT $groupCol, ($m - nonempty) AS v,
           zp + ($m - nonempty) * (1::BIGINT << ${wBits + 1}) AS z FROM s),
       tru AS (SELECT $groupCol,
           count(DISTINCT $keyCol)::BIGINT AS true_distinct
         FROM events GROUP BY 1)
       SELECT $groupCol, true_distinct,
         round(CASE WHEN $numer / z.z <= ${2.5 * m} AND v > 0
             THEN ${m.toDouble} * ln(${m.toDouble} / v)
             ELSE $numer / z.z END, 4) AS hll_est
       FROM z JOIN tru USING ($groupCol) ORDER BY $groupCol"""
  }

  /** Funnel oracle CTE chain generated from [[FunnelSteps]] so the two
    * sides cannot drift. */
  private def funnelOracleSql(steps: Seq[String]): String = {
    val ctes = steps.zipWithIndex.map { case (step, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = '$step' GROUP BY user_id)"""
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s$i ON e.user_id = s$i.user_id AND e.ts > s$i.t
           WHERE e.event_type = '$step' GROUP BY e.user_id)"""
    }.mkString(",\n       ")
    val selects = steps.zipWithIndex.map { case (step, i) =>
      s"""SELECT CAST(${i + 1} AS INT) AS step_idx, '$step' AS step,
         count(*) AS n_users FROM s${i + 1}"""
    }.mkString(" UNION ALL ")
    s"WITH $ctes $selects ORDER BY step_idx"
  }

  /** DuckDB PageRank oracle: the same recurrence unrolled `iters` times
    * as chained CTEs — generated so iteration count and damping cannot
    * drift from the Spark query. */
  private def pagerankOracleSql(iters: Int, d: Double): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT dst, sum(r.rank / deg.d) AS s
           FROM e JOIN deg USING (src) JOIN r${i - 1} r ON e.src = r.node
           GROUP BY dst),
         r$i AS (SELECT node, ${1.0 - d} + $d * COALESCE(s, 0.0) AS rank
           FROM nodes LEFT JOIN c$i ON node = dst)"""
    }.mkString(",\n       ")
    s"""WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src,
           's' || l_suppkey AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       r0 AS (SELECT node, 1.0 AS rank FROM nodes),
       $steps
       SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node"""
  }

  val oracles: Map[String, String] = Map(
    "agg_hll_replayable" -> HllKeys.map(k => hllOracleSql(k, HllP))
      .mkString("(", ") UNION ALL (", ") ORDER BY key"),
    "agg_hll_grouped" ->
      hllGroupedOracleSql("event_type", "user_id", HllGroupP),
    "agg_hist_percentile_grouped" ->
      """WITH b AS (SELECT event_type,
             least(greatest(CAST(floor(value / 5.0) AS BIGINT), 0), 99)
               AS bin,
             count(*) AS cnt FROM events GROUP BY 1, 2),
         c AS (SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS total FROM b),
         p AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.95::DOUBLE,
             0.99::DOUBLE]) AS p)
         SELECT event_type, p,
           round(0.0 + 5.0 * (bin + (p * total - (cum - cnt)) / cnt), 6)
             AS est
         FROM p JOIN c ON cum >= p * total AND cum - cnt < p * total
         ORDER BY event_type, p""",
    "agg_cms_join_size" ->
      """WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
         ska AS (SELECT r,
             CAST(('0x' || substr(md5('cms' || r || ':' || user_id), 1, 8))
               AS BIGINT) % 512 AS bucket,
             count(*) AS cnt_a
           FROM a CROSS JOIN generate_series(0, 3) AS t(r) GROUP BY 1, 2),
         skb AS (SELECT r,
             CAST(('0x' || substr(md5('cms' || r || ':' || user_id), 1, 8))
               AS BIGINT) % 512 AS bucket,
             count(*) AS cnt_b
           FROM b CROSS JOIN generate_series(0, 3) AS t(r) GROUP BY 1, 2),
         z AS (SELECT r, sum(cnt_a * cnt_b) AS z
           FROM ska JOIN skb USING (r, bucket) GROUP BY 1),
         est AS (SELECT min(z)::BIGINT AS join_size_est FROM z),
         tru AS (SELECT sum(na * nb)::BIGINT AS true_size FROM
           (SELECT user_id, count(*) AS na FROM a GROUP BY 1) x JOIN
           (SELECT user_id, count(*) AS nb FROM b GROUP BY 1) y
           USING (user_id))
         SELECT true_size, join_size_est,
           join_size_est - true_size AS overestimate
         FROM tru, est""",
    "curate_source_cap" ->
      s"""WITH $QualitySql,
         d AS (SELECT s.source, q.doc_id, q.quality
           FROM q JOIN documents s ON q.doc_id = s.doc_id),
         r AS (SELECT source, doc_id, quality,
           row_number() OVER (PARTITION BY source
             ORDER BY quality DESC, doc_id)::INT AS rk FROM d)
         SELECT source, doc_id, quality, rk FROM r
         WHERE rk <= $SourceCapK ORDER BY source, rk""",
    "agg_cms_estimate" ->
      """WITH ev AS (SELECT user_id FROM events),
         sk AS (SELECT r,
             CAST(('0x' || substr(md5('cms' || r || ':' || user_id), 1, 8))
               AS BIGINT) % 512 AS bucket,
             count(*) AS cnt
           FROM ev CROSS JOIN generate_series(0, 3) AS t(r) GROUP BY 1, 2),
         pr AS (SELECT DISTINCT user_id FROM ev WHERE user_id < 20),
         pb AS (SELECT user_id, r,
             CAST(('0x' || substr(md5('cms' || r || ':' || user_id), 1, 8))
               AS BIGINT) % 512 AS bucket
           FROM pr CROSS JOIN generate_series(0, 3) AS t(r)),
         est AS (SELECT user_id, min(cnt) AS cms_est
           FROM pb JOIN sk USING (r, bucket) GROUP BY 1),
         tru AS (SELECT user_id, count(*) AS true_cnt
           FROM ev WHERE user_id < 20 GROUP BY 1)
         SELECT t.user_id, true_cnt, cms_est,
           cms_est - true_cnt AS overestimate
         FROM tru t JOIN est e ON t.user_id = e.user_id
         ORDER BY t.user_id""",
    "agg_hist_percentile" ->
      """WITH b AS (SELECT
             least(greatest(CAST(floor(value / 5.0) AS BIGINT), 0), 99)
               AS bin,
             count(*) AS cnt FROM events GROUP BY 1),
         c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
             sum(cnt) OVER () AS total FROM b),
         p AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.95::DOUBLE,
             0.99::DOUBLE]) AS p)
         SELECT p, round(0.0 + 5.0 * (bin + (p * total - (cum - cnt)) / cnt),
             6) AS est
         FROM p JOIN c ON cum >= p * total AND cum - cnt < p * total
         ORDER BY p""",
    "agg_salted_skew" ->
      """SELECT event_type, count(*) AS n, min(value) AS v_min,
         max(value) AS v_max, round(sum(value), 2) AS v_sum,
         round(sum(value) / count(*), 2) AS v_avg
         FROM events GROUP BY event_type ORDER BY event_type""",

    "sort_topk_group" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
           CAST(rk AS INT) AS rk
         FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) r
         WHERE rk <= 3 ORDER BY o_orderstatus, rk""",

    "sort_topk_group_exec" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice
         FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) r
         WHERE rk <= 3
         ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey""",

    "agg_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         SELECT o_orderstatus, o_orderpriority AS mode_value,
           n AS mode_count
         FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
             ORDER BY n DESC, o_orderpriority) AS rk FROM c) r
         WHERE rk = 1 ORDER BY o_orderstatus""",

    "funnel_steps" -> funnelOracleSql(FunnelSteps),

    "cohort_retention" ->
      """WITH w AS (SELECT user_id AS u,
           epoch_ns(ts) // 604800000000000 AS w FROM events),
         f AS (SELECT u, min(w) AS cohort_week FROM w GROUP BY u)
         SELECT cohort_week, w.w - cohort_week AS week_offset,
           count(DISTINCT w.u) AS n_users
         FROM w JOIN f ON w.u = f.u
         GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",

    // cutpoints rounded to 6 dp on BOTH sides before the compare: Spark
    // interpolates (1-g)*a + g*b, DuckDB a + (b-a)*g — ulp-different
    "agg_quantile_bucket" ->
      """WITH c AS (SELECT quantile_cont(o_totalprice,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
           FROM orders)
         SELECT CAST(1 + len(list_filter(c.cuts,
             x -> o_totalprice > round(x, 6))) AS INT) AS bucket,
           count(*) AS n, round(sum(o_totalprice), 2) AS v_sum
         FROM orders, c GROUP BY 1 ORDER BY 1""",

    "filter_quantile" ->
      s"""WITH $QualitySql,
         c AS (SELECT quantile_cont(quality, 0.75) AS cut FROM q)
         SELECT doc_id, quality FROM q, c
         WHERE quality >= round(cut, 6) ORDER BY doc_id""",

    "agg_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
         count(*) AS n, round(sum(l_extendedprice), 2) AS v_sum
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY custkey""",

    "project_unpivot" ->
      """SELECT l_orderkey, l_linenumber, m AS measure, v AS value
         FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS m,
             l_quantity AS v FROM lineitem WHERE l_orderkey <= 100
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_extendedprice',
             l_extendedprice FROM lineitem WHERE l_orderkey <= 100
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
           FROM lineitem WHERE l_orderkey <= 100
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
           FROM lineitem WHERE l_orderkey <= 100) u
         ORDER BY l_orderkey, l_linenumber, measure""",

    // H = ln L - sum(n_c * ln n_c)/L over distinct chars; 4-dp floor
    // rounding, identical formula to TextAnalysis.charEntropy
    "text_entropy" ->
      """SELECT doc_id,
         CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
           ELSE floor((ln(length(text)::DOUBLE)
             - list_sum(list_transform(list_distinct(string_split(text, '')),
                 c -> (length(text) - length(replace(text, c, '')))::DOUBLE
                   * ln((length(text) - length(replace(text, c, '')))::DOUBLE)))
               / length(text)::DOUBLE) * 10000 + 0.5) / 10000
           END AS entropy
         FROM documents ORDER BY doc_id""",

    "join_fuzzy" ->
      """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
         toks AS (SELECT DISTINCT name,
           unnest(regexp_split_to_array(trim(name), '\s+')) AS tok
           FROM names)
         SELECT DISTINCT a.name AS a_name, b.name AS b_name,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
         FROM toks a JOIN toks b ON a.tok = b.tok AND a.name < b.name
           AND levenshtein(a.name, b.name) <= 3
         ORDER BY a_name, b_name""",

    "filter_outliers" ->
      """WITH s AS (SELECT event_type, avg(value) AS m,
           stddev_samp(value) AS sd FROM events GROUP BY event_type)
         SELECT event_id, e.event_type, value,
           round((value - m) / NULLIF(sd, 0), 4) AS z
         FROM events e JOIN s ON e.event_type = s.event_type
         WHERE abs(round((value - m) / NULLIF(sd, 0), 4)) >= 2.5
         ORDER BY event_id""",

    "agg_mad" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS md
           FROM events GROUP BY event_type)
         SELECT e.event_type, round(min(md), 4) AS med,
           round(quantile_cont(abs(value - md), 0.5), 4) AS mad
         FROM events e JOIN m ON e.event_type = m.event_type
         GROUP BY e.event_type ORDER BY e.event_type""",

    "scalar_winsorize" ->
      """WITH c AS (SELECT event_type,
           round(quantile_cont(value, 0.01), 6) AS lo,
           round(quantile_cont(value, 0.99), 6) AS hi
         FROM events GROUP BY event_type)
         SELECT event_id, e.event_type, value,
           least(greatest(value, lo), hi) AS clipped
         FROM events e JOIN c ON e.event_type = c.event_type
         ORDER BY event_id""",

    "scalar_zorder" -> zorderOracleSql(4),

    "agg_moments" ->
      """SELECT event_type,
         round((avg(value*value*value) - 3*avg(value)*avg(value*value)
             + 2*avg(value)*avg(value)*avg(value))
           / ((avg(value*value) - avg(value)*avg(value))
              ^ 1.5), 4) AS skew,
         round((avg(value*value*value*value)
             - 4*avg(value)*avg(value*value*value)
             + 6*avg(value)*avg(value)*avg(value*value)
             - 3*avg(value)*avg(value)*avg(value)*avg(value))
           / ((avg(value*value) - avg(value)*avg(value))
              * (avg(value*value) - avg(value)*avg(value))) - 3, 4)
           AS exkurt
         FROM events GROUP BY event_type ORDER BY event_type""",

    "agg_string_topk" ->
      """SELECT o_orderstatus,
           string_agg(o_orderkey::VARCHAR, ',' ORDER BY rk) AS top_keys
         FROM (SELECT o_orderstatus, o_orderkey,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 5 GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "agg_correlation" ->
      """SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "agg_regression" ->
      """SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "cdc_incremental_agg" ->
      """WITH finals AS (
           SELECT o_custkey, o_totalprice AS v FROM orders
           WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_custkey,
             CASE WHEN o_orderkey % 11 = 3
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5) / 100
                  ELSE o_totalprice END AS v
           FROM orders
           WHERE o_orderkey % 7 <> 0
             AND NOT (o_orderkey % 11 <> 3 AND o_orderkey % 13 = 5))
         SELECT o_custkey, count(*)::BIGINT AS cnt,
           round(sum(v), 2) AS v_sum
         FROM finals GROUP BY o_custkey ORDER BY o_custkey""",

    "cdc_incremental_agg2" ->
      """WITH finals AS (
           SELECT o_custkey, o_totalprice AS v FROM orders
           WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_custkey,
             CASE WHEN o_orderkey % 11 = 3
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5) / 100
                  ELSE o_totalprice END AS v
           FROM orders
           WHERE o_orderkey % 7 <> 0
             AND NOT (o_orderkey % 11 <> 3 AND o_orderkey % 13 = 5))
         SELECT o_custkey, count(*)::BIGINT AS cnt,
           round(sum(v), 2) AS v_sum,
           min(v) AS v_min, max(v) AS v_max
         FROM finals GROUP BY o_custkey ORDER BY o_custkey""",

    "sample_split" ->
      """SELECT o_orderkey,
           CASE WHEN u <= 0.8 THEN 'train' WHEN u <= 0.9 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT o_orderkey,
             (CAST(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))
                AS BIGINT)::DOUBLE + 1.0) / 1152921504606846976.0 AS u
           FROM orders)
         ORDER BY o_orderkey""",

    "window_moving_range" ->
      """SELECT event_id, user_id,
           round(sum(value) OVER w, 2) AS w_sum,
           count(*) OVER w AS w_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
           RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // A-Res keys: u = (digest60 + 1)/2^60, key = ln(u)/quality; the
    // identical doubles both engines, so the top-100 set replays exactly
    "sample_ares" ->
      s"""WITH $QualitySql,
         keyed AS (SELECT doc_id, quality,
           ln((CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
             ::DOUBLE + 1.0) / 1152921504606846976.0) / quality AS k
           FROM q WHERE quality > 0)
         SELECT doc_id, quality FROM
           (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 100) t
         ORDER BY doc_id""",

    "graph_pagerank" -> pagerankOracleSql(3, 0.85),

    "sample_ares_stratified" ->
      s"""WITH $QualitySql,
         keyed AS (SELECT q.doc_id, d.lang, q.quality,
           ln((CAST(('0x' || substr(md5(q.doc_id::VARCHAR), 1, 15)) AS BIGINT)
             ::DOUBLE + 1.0) / 1152921504606846976.0) / q.quality AS k
           FROM q JOIN documents d ON q.doc_id = d.doc_id
           WHERE q.quality > 0)
         SELECT doc_id, lang, quality FROM
           (SELECT *, row_number() OVER (PARTITION BY lang
              ORDER BY k DESC, doc_id) AS rk FROM keyed) t
         WHERE rk <= 20 ORDER BY doc_id""",

    "dedup_containment" ->
      """WITH sets AS (SELECT doc_id,
           list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE AS i,
           len(a.s)::DOUBLE AS la, len(b.s)::DOUBLE AS lb
           FROM sets a JOIN sets b
           ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25)
         SELECT id_a, id_b, round(i / la, 3) AS c_ab,
           round(i / lb, 3) AS c_ba
         FROM p WHERE greatest(round(i / la, 3), round(i / lb, 3)) >= 0.9
         ORDER BY id_a, id_b""",

    "dedup_containment_scale" ->
      """WITH sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents WHERE doc_id % 10 = 0),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE AS i,
           len(a.s)::DOUBLE AS la, len(b.s)::DOUBLE AS lb
           FROM sets a JOIN sets b ON b.doc_id > a.doc_id)
         SELECT id_a, id_b, round(i / la, 3) AS c_ab,
           round(i / lb, 3) AS c_ba
         FROM p WHERE greatest(round(i / la, 3), round(i / lb, 3)) >= 0.9
         ORDER BY id_a, id_b""",

    "dedup_containment_keep" ->
      """WITH sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents WHERE doc_id % 10 = 0),
         par AS (SELECT a.doc_id AS doc_id, min(b.doc_id) AS pmin
           FROM sets a JOIN sets b ON b.doc_id <> a.doc_id
           WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
             / len(a.s), 3) >= 0.9
           GROUP BY a.doc_id)
         SELECT s.doc_id,
           least(s.doc_id, coalesce(p.pmin, s.doc_id)) AS rep_id,
           least(s.doc_id, coalesce(p.pmin, s.doc_id)) = s.doc_id
             AS is_kept
         FROM sets s LEFT JOIN par p ON s.doc_id = p.doc_id
         ORDER BY s.doc_id""",

    "agg_quantile_bucket_grouped" ->
      """WITH c AS (SELECT o_orderstatus,
           quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS cuts
           FROM orders GROUP BY o_orderstatus)
         SELECT o.o_orderstatus,
           CAST(1 + len(list_filter(c.cuts,
             x -> o_totalprice > round(x, 6))) AS INT) AS bucket,
           count(*) AS n, round(sum(o_totalprice), 2) AS v_sum
         FROM orders o JOIN c ON o.o_orderstatus = c.o_orderstatus
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "agg_weighted_stats" ->
      s"""WITH $QualitySql,
         d AS (SELECT q.doc_id, q.quality AS w, doc.lang,
             doc.n_chars::DOUBLE AS x
           FROM q JOIN documents doc ON q.doc_id = doc.doc_id
           WHERE q.quality > 0)
         SELECT lang,
           round(sum(w * x) / sum(w), 4) AS wmean,
           round(sum(w * x * x) / sum(w)
             - pow(sum(w * x) / sum(w), 2), 4) AS wvar,
           round(sum(w), 4) AS w_total
         FROM d GROUP BY lang ORDER BY lang""",

    "asof_join_forward" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events
             WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events
             WHERE event_type = 'click')
         SELECT p.user_id, p.event_id,
           epoch_us(c.ts) AS click_us, c.value AS click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND c.ts >= p.ts
         ORDER BY event_id""",

    // strict (<) ASOF; matches beyond the 2-hour tolerance null out
    "asof_join_tolerance" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events
             WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events
             WHERE event_type = 'click')
         SELECT p.user_id, p.event_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_ns(p.ts) - epoch_ns(c.ts) <= 7200000000000
                THEN epoch_us(c.ts) END AS click_us,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch_ns(p.ts) - epoch_ns(c.ts) <= 7200000000000
                THEN c.value END AS click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND c.ts < p.ts
         ORDER BY event_id""",

    // backward + forward ASOF, then pick the smaller absolute distance
    // (exact ties -> backward, matching AsOfJoin.Nearest)
    "asof_join_nearest" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events
             WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events
             WHERE event_type = 'click'),
         bk AS (SELECT p.event_id, p.user_id, p.ts, c.ts AS bt,
             c.value AS bv
           FROM p ASOF LEFT JOIN c
             ON p.user_id = c.user_id AND c.ts <= p.ts),
         fw AS (SELECT p.event_id, c.ts AS ft, c.value AS fv
           FROM p ASOF LEFT JOIN c
             ON p.user_id = c.user_id AND c.ts >= p.ts)
         SELECT bk.user_id, bk.event_id,
           CASE WHEN ft IS NULL THEN epoch_us(bt)
                WHEN bt IS NULL THEN epoch_us(ft)
                WHEN epoch_ns(bk.ts) - epoch_ns(bt)
                  <= epoch_ns(ft) - epoch_ns(bk.ts) THEN epoch_us(bt)
                ELSE epoch_us(ft) END AS click_us,
           CASE WHEN ft IS NULL THEN bv
                WHEN bt IS NULL THEN fv
                WHEN epoch_ns(bk.ts) - epoch_ns(bt)
                  <= epoch_ns(ft) - epoch_ns(bk.ts) THEN bv
                ELSE fv END AS click_value
         FROM bk JOIN fw ON bk.event_id = fw.event_id
         ORDER BY bk.event_id""",

    "agg_cluster_sse" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 8)) AS BIGINT)
             % 8 AS cell
           FROM embeddings),
         cent AS (SELECT cell, list(a ORDER BY i) AS c FROM (
             SELECT cell, i, avg(v[i]) AS a
             FROM v, generate_series(1, 64) AS g(i) GROUP BY cell, i)
           GROUP BY cell)
         SELECT v.cell, count(*) AS n,
           round(sum(list_sum(list_transform(generate_series(1, 64),
             i -> (v.v[i] - cent.c[i]) * (v.v[i] - cent.c[i])))), 4) AS sse
         FROM v JOIN cent ON v.cell = cent.cell
         GROUP BY v.cell ORDER BY v.cell""",

    "audit_integrity" ->
      """SELECT 'lineitem.orderkey->orders' AS relation,
           (SELECT count(*) FROM lineitem l LEFT JOIN orders o
            ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
           AS n_orphans
         UNION ALL
         SELECT 'lineitem.suppkey->supplier',
           (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
            ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
         UNION ALL
         SELECT 'orders.custkey->customer',
           (SELECT count(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
         ORDER BY relation""",

    "scalar_minmax_scale" ->
      """WITH r AS (SELECT o_orderstatus, min(o_totalprice) AS lo,
           max(o_totalprice) AS hi FROM orders GROUP BY o_orderstatus)
         SELECT o_orderkey, o.o_orderstatus,
           CASE WHEN hi = lo THEN 0.0
             ELSE round((o_totalprice - lo) / (hi - lo), 6) END AS scaled
         FROM orders o JOIN r ON o.o_orderstatus = r.o_orderstatus
         ORDER BY o_orderkey""",

    "window_rank_dist" ->
      """SELECT o_orderstatus, o_orderkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
         FROM orders WHERE o_orderkey <= 500
         WINDOW w AS (PARTITION BY o_orderstatus
           ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderstatus, o_orderkey""",

    "agg_seasonality" ->
      """WITH t AS (SELECT epoch_ns(ts) // 1000000000 AS sec, value
           FROM events)
         SELECT CAST((sec // 86400 + 4) % 7 AS INT) AS dow,
           CAST((sec % 86400) // 3600 AS INT) AS hour,
           count(*) AS n, round(avg(value), 4) AS v_avg
         FROM t GROUP BY 1, 2 ORDER BY dow, hour""",

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""",

    // each digest term coalesces NULL to the positional '__NULL__'
    // sentinel, mirroring the Spark side exactly on any null pattern
    "agg_checksum" -> {
      val digest = Seq("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag")
        .map(c => s"coalesce($c::VARCHAR, '__NULL__')")
        .mkString(" || '|' || ")
      s"""SELECT count(*) AS n_rows,
           sum(CAST(('0x' || substr(md5($digest), 1, 8))
             AS BIGINT))::BIGINT AS content_sum,
           bit_xor(CAST(('0x' || substr(md5($digest), 1, 15))
             AS BIGINT)) AS content_xor
         FROM lineitem"""
    },

    // the 300-candidate pool dwarfs k=10, so two-stage PQ retrieval is
    // exact brute-force top-k — the identity this oracle checks
    "sim_ann_pq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0
             AS sim
         FROM embeddings, q
         ORDER BY sim DESC, vec_id LIMIT 10""",

    // nprobe = nlist + rescore headroom: IVFADC degenerates to exact
    // brute-force top-k, the same identity as sim_ann_pq
    "sim_ann_ivfpq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0
             AS sim
         FROM embeddings, q
         ORDER BY sim DESC, vec_id LIMIT 10""",

    // same fuzzy-pair CTE as join_fuzzy, then transitive closure as a
    // recursive CTE (the dedup_components oracle pattern) and canonical
    // lookup of each component's min-id member
    "pipeline_entity_resolution" ->
      """WITH RECURSIVE names AS (SELECT p_name AS name,
           min(p_partkey) AS name_id FROM part GROUP BY p_name),
         toks AS (SELECT DISTINCT name,
           unnest(regexp_split_to_array(trim(name), '\s+')) AS tok
           FROM names),
         fpairs AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.name < b.name
             AND levenshtein(a.name, b.name) <= 3),
         pairs AS (SELECT na.name_id AS id_a, nb.name_id AS id_b
           FROM fpairs JOIN names na ON fpairs.a_name = na.name
           JOIN names nb ON fpairs.b_name = nb.name),
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(u, r) AS (
           SELECT name_id, name_id FROM names
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         comp AS (SELECT u AS name_id, min(r) AS entity_id
           FROM reach GROUP BY u)
         SELECT n.name, n.name_id, c.entity_id, cn.name AS canonical
         FROM names n JOIN comp c ON n.name_id = c.name_id
         JOIN names cn ON cn.name_id = c.entity_id
         ORDER BY n.name"""
  )
}
