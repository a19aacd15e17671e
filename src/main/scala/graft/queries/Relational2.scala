package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.GraftFunctions._
import graft.operators._

/** Second batch of SURVEY.md §2 operator queries: aggregations (A2, A6-A11),
  * joins (J4-J6), set ops (U2), sorts/limits (O4-O6), projections/filters
  * (P2-P11) and the remaining scalar functions (F5, F6, F9, F11, F13, F14).
  */
object Relational2 extends GateBatch {

  val defs: Map[String, Q] = Map(
    // A2 — derived ratio columns over a grouped count
    "agg_ratio" -> ((s, dir) => {
      val counts = tbl(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("pct", round(col("n") / sum("n").over(Window.partitionBy()), 4))
        .orderBy("l_returnflag")
    }),

    // A6 — per-group count / mean / exact median
    "agg_group_stats" -> ((s, dir) => {
      tbl(s, dir, "orders").groupBy("o_orderpriority").agg(
        count(lit(1)).as("n"),
        round(avg("o_totalprice"), 2).as("avg_price"),
        round(median(col("o_totalprice")), 2).as("median_price"))
        .orderBy("o_orderpriority")
    }),

    // A7 — value_counts with __NA__ bucket, descending
    "agg_value_counts" -> ((s, dir) =>
      ValueCounts(tbl(s, dir, "events"), "event_type")),

    // A8 — distinct counts over normalized keys
    "agg_distinct" -> ((s, dir) => {
      tbl(s, dir, "customer").agg(
        countDistinct(normKey(col("c_mktsegment"))).as("n_seg"),
        countDistinct(col("c_nationkey")).as("n_nat"))
    }),

    // A10 — average over positive values only, 0.0 fallback
    "agg_avg_positive" -> ((s, dir) => {
      tbl(s, dir, "events").groupBy("event_type").agg(
        coalesce(round(avg(when(col("value") > 0, col("value"))), 2), lit(0.0))
          .as("avg_pos"))
        .orderBy("event_type")
    }),

    // A11 — pivoted counts (returnflag x linestatus), explicit pivot values
    "agg_pivot" -> ((s, dir) =>
      PivotCounts(tbl(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
        Seq("F", "O"))),

    // A11b — pivot normalized to percent-of-row-total
    "agg_pivot_pct" -> ((s, dir) =>
      PivotCounts(tbl(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
        Seq("F", "O"), percent = true)),

    // J4 — semi-join (EXISTS): customers with at least one big order
    "join_semi" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // J6 — anti-join (NOT EXISTS): customers with no big order
    "join_anti" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // J4b — membership flag via left join probe
    "join_flag" -> ((s, dir) => {
      val orderKeys = tbl(s, dir, "orders").select("o_custkey").distinct()
      tbl(s, dir, "customer")
        .join(orderKeys, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          col("o_custkey").isNotNull.as("has_order"))
        .orderBy("c_custkey")
    }),

    // J5 + F13/F14/F15 + P8 — audit before/after self-join, changed rows only
    "join_audit_before_after" -> ((s, dir) => {
      val before = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price_before"),
          col("o_orderstatus").as("status_before"))
      val after = tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          // additive perturbation: 2-decimal + 2-decimal never lands on a
          // round() boundary, unlike *1.05 which does (engines then disagree)
          when(col("o_orderstatus") === "O", col("o_totalprice") + lit(250.0))
            .otherwise(col("o_totalprice")).as("price_after"),
          when(col("o_orderstatus") === "P", lit("F"))
            .otherwise(col("o_orderstatus")).as("status_after"))
      before.join(after, Seq("o_orderkey"))
        .withColumn("price_changed",
          !isClose(col("price_before"), col("price_after")))
        .withColumn("status_changed",
          nullSafeNeq(col("status_before"), col("status_after")))
        .filter(col("price_changed") || col("status_changed"))
        .orderBy("o_orderkey")
    }),

    // FULL OUTER join: customers and per-customer spend where either
    // side can be absent (disjoint %-filters force both null shapes)
    "join_full_outer" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select("c_custkey", "c_name")
      val o = tbl(s, dir, "orders").filter(col("o_custkey") % 5 === 0)
        .groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("spend"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("spend"))
        .orderBy("custkey")
    }),

    // calendar part extraction + month bucketing (cross-engine exact)
    "scalar_date_parts" -> ((s, dir) =>
      tbl(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofweek(col("o_orderdate")).as("dow"), // 1 = Sunday
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy("o_orderkey")),

    // multi-way star join: revenue per nation (dims broadcast by Catalyst)
    "join_star" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name").as("nation"))
        .agg(round(sum(li("l_extendedprice") * (lit(1) - li("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("nation")
    }),

    // U2 — set difference on distinct keys: nations with no wealthy supplier
    "set_except" -> ((s, dir) => {
      tbl(s, dir, "nation").select(col("n_nationkey"))
        .except(tbl(s, dir, "supplier").filter(col("s_acctbal") > 3000)
          .select(col("s_nationkey")))
        .orderBy("n_nationkey")
    }),

    // O-window — running per-key sum over an explicit ordering
    "window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // higher-order array functions over the embedding vectors:
    // fold-sum, min/max, filtered count, zip_with dot against reverse
    "scalar_array_hof" -> ((s, dir) => {
      val v = graft.similarity.Similarity.toVec(col("embedding"))
      tbl(s, dir, "embeddings").select(col("vec_id"),
        round(aggregate(v, lit(0.0), (a, x) => a + x), 4).as("vsum"),
        round(array_max(v), 4).as("vmax"),
        round(array_min(v), 4).as("vmin"),
        size(filter(v, x => x > 0)).as("n_pos"),
        round(aggregate(zip_with(v, reverse(v), (a, b) => a * b),
          lit(0.0), (a, x) => a + x), 4).as("dot_rev"))
        .orderBy("vec_id")
    }),

    // SCD2 dimension history: each (user, value) version gets its
    // validity interval from the next change; open interval = current.
    // Microsecond times on both sides: DuckDB TIMESTAMP is us-precision,
    // so raw ns would differ in the sub-us digits (and us ordering keeps
    // the tie-break identical)
    "pipeline_scd2" -> ((s, dir) => {
      val us = expr("ts div 1000")
      val w = Window.partitionBy("user_id").orderBy(us, col("event_id"))
      tbl(s, dir, "events").select(col("user_id"), col("event_id"),
        col("value"), us.as("valid_from"),
        lead(us, 1).over(w).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // rolling exact median over a bounded row frame (per-user trailing
    // 4-sample median — the robust smoother's window form)
    "window_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      tbl(s, dir, "events").select(col("user_id"), col("event_id"),
        round(percentile(col("value"), lit(0.5)).over(w), 6).as("med4"))
        .orderBy("user_id", "event_id")
    }),

    // distribution window functions: percent_rank / cume_dist / a
    // partition-wide nth_value (explicit full frame on both engines)
    "window_distribution" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      tbl(s, dir, "orders").select(
        col("o_orderstatus"), col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        nth_value(col("o_orderkey"), 2).over(wf).as("second_key"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // O-window — lag/lead neighbor access (inter-order gaps per customer)
    "window_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      // hour-granular integer deltas: unix_millis subtraction is exact
      // long math both engines compute identically (no date/interval
      // semantics to disagree on); gaps are non-negative by the window
      // order, so truncating cast == DuckDB's floor division
      tbl(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        ((unix_millis(col("o_orderdate").cast("timestamp"))
          - unix_millis(lag("o_orderdate", 1).over(w).cast("timestamp")))
          / 3600000).cast("long").as("hours_since_prev"),
        ((unix_millis(lead("o_orderdate", 1).over(w).cast("timestamp"))
          - unix_millis(col("o_orderdate").cast("timestamp")))
          / 3600000).cast("long").as("hours_until_next"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // A-rollup — hierarchical subtotals in one pass (detail -> per-flag
    // -> grand total), disambiguated by grouping_id; Spark plans a
    // single Expand + hash aggregate, no repeated scans
    "agg_rollup" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
          col("l_quantity"))
        .rollup("rf", "ls")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"))
        .select("rf", "ls", "gid", "n", "sum_qty")
        .orderBy("gid", "rf", "ls")),

    // A-percentiles — exact grouped quantiles (linear interpolation,
    // the same definition DuckDB's quantile_cont computes)
    "agg_percentiles" -> ((s, dir) =>
      // one percentile buffer per group for all four probes (array
      // form), not four — a quarter of the agg state and merge traffic
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.9), lit(0.99))).as("__ps"))
        .select(col("rf"),
          round(col("__ps")(0), 4).as("p25"),
          round(col("__ps")(1), 4).as("p50"),
          round(col("__ps")(2), 4).as("p90"),
          round(col("__ps")(3), 4).as("p99"))
        .orderBy("rf")),

    // O6 — top-N by measure
    "sort_topn" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    }),

    // O4/O5 — deterministic sort + pagination (page 3, 50 rows)
    "sort_paginate" -> ((s, dir) =>
      Paginate(tbl(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq(col("o_orderkey")), page = 3, pageSize = 50)),

    // P7 — stable row-id assignment over an explicit order
    "rowid_stable" -> ((s, dir) => {
      tbl(s, dir, "nation").select(
        row_number().over(Window.orderBy("n_nationkey")).as("rowid"),
        col("n_nationkey"), col("n_name"))
        .orderBy("rowid")
    }),

    // P11 — any-column case-insensitive substring search
    "filter_search_any" -> ((s, dir) => {
      SearchAll(tbl(s, dir, "part"), "red", Seq("p_name", "p_brand", "p_type"))
        .select("p_partkey", "p_name", "p_brand", "p_type")
        .orderBy("p_partkey")
    }),

    // P8/P10/P12 — boolean-expression filter
    "filter_bool" -> ((s, dir) => {
      tbl(s, dir, "events")
        .filter((col("event_type") === "purchase" || col("event_type") === "click")
          && col("value") > 0)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),

    // P2/P3/P4 — ensure-column + literal injection + column reorder
    "project_ensure_cols" -> ((s, dir) => {
      val base = tbl(s, dir, "nation").select("n_nationkey", "n_name")
      EnsureColumns(base.withColumn("source", lit("nexo")),
        Seq("extra_price" -> DoubleType))
        .select("source", "n_nationkey", "n_name", "extra_price")
        .orderBy("n_nationkey")
    }),

    // P6 — drop rows whose (selected) columns are all null
    "drop_all_null" -> ((s, dir) => {
      tbl(s, dir, "events")
        .withColumn("big_value", when(col("value") > 100, col("value")))
        .withColumn("click_mark", when(col("event_type") === "click", lit(1L)))
        .na.drop("all", Seq("big_value", "click_mark"))
        .select("event_id", "big_value", "click_mark")
        .orderBy("event_id")
    }),

    // F5 — integer-string canonicalization ("101.0" -> "101")
    "scalar_canon_unit" -> ((s, dir) => {
      tbl(s, dir, "part").select(
        col("p_partkey"),
        canonUnit(concat(col("p_partkey").cast("string"), lit(".0")))
          .as("unit_from_float"),
        canonUnit(lit(" 0012 ")).as("unit_padded"),
        canonUnit(concat(lit("U-"), col("p_partkey").cast("string")))
          .as("unit_alpha"))
        .orderBy("p_partkey")
    }),

    // F1/F2 — key normalization + whitespace cleanup
    "scalar_norm_clean" -> ((s, dir) => {
      tbl(s, dir, "customer").select(
        col("c_custkey"),
        normKey(concat(lit("  "), col("c_mktsegment"), lit(" ")))
          .as("seg_norm"),
        cleanWs(concat(lit(" a  b "), col("c_name"))).as("name_clean"))
        .orderBy("c_custkey")
    }),

    // F6 — accent folding
    "scalar_accent_fold" -> ((s, dir) => {
      tbl(s, dir, "nation").select(
        col("n_nationkey"),
        stripAccents(concat(lit("áé "), col("n_name"))).as("folded"))
        .orderBy("n_nationkey")
    }),

    // F9/P9 — tower-prefix conditional update (synthesized columns)
    "scalar_tower_prefix" -> ((s, dir) => {
      val df = tbl(s, dir, "part").select(
        col("p_partkey"),
        when(col("p_size") % 3 === 0, lit("Capadocia")).otherwise(lit("Other"))
          .as("proyecto"),
        when(col("p_size") % 2 === 0, lit("A1")).otherwise(lit("X2"))
          .as("tipologia"),
        col("p_partkey").cast("string").as("unidad"))
      TowerPrefix(df, Seq("capadocia"), "proyecto", "unidad", "tipologia")
        .orderBy("p_partkey")
    }),

    // F11 — update rule, both modes
    "scalar_update_coalesce" -> ((s, dir) => {
      val df = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") =!= "O", col("o_totalprice")).as("existing"),
        when(col("o_totalprice") > 1000, col("o_totalprice") + lit(500.0))
          .as("incoming"))
      df.select(
        col("o_orderkey"),
        UpdateRules.applyUpdate(col("existing"), col("incoming")).as("prefer_new"),
        UpdateRules.applyUpdate(col("existing"), col("incoming"),
          UpdateRules.PreferExisting).as("prefer_existing"))
        .orderBy("o_orderkey")
    }),

    // F13 — NumPy-isclose tolerant equality (rtol scales the right side)
    "scalar_isclose" -> ((s, dir) => {
      val p = col("l_extendedprice")
      tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        isClose(p, p * (lit(1.0) + lit(1e-7))).as("close_within_rtol"),
        isClose(p, p + lit(1.0)).as("close_outside"),
        isClose(lit(null).cast("double"), lit(null).cast("double"))
          .as("both_null_close"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F14 — null-safe inequality
    "scalar_nullsafe_neq" -> ((s, dir) => {
      tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        nullSafeNeq(nullif(col("l_returnflag"), lit("N")),
          nullif(col("l_linestatus"), lit("O"))).as("changed"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F-ext — rolling polynomial fingerprint over document text
    "scalar_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
        col("doc_id"), rollingFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "join_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer
             WHERE c_custkey % 3 = 0),
         o AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
             FROM orders WHERE o_custkey % 5 = 0 GROUP BY o_custkey)
         SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, spend
         FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
         ORDER BY custkey""",

    "scalar_date_parts" ->
      """SELECT o_orderkey,
         year(o_orderdate)::INT AS y,
         quarter(o_orderdate)::INT AS q,
         month(o_orderdate)::INT AS m,
         (dayofweek(o_orderdate) + 1)::INT AS dow,
         strftime(o_orderdate, '%Y-%m') AS ym
         FROM orders ORDER BY o_orderkey""",

    "scalar_array_hof" ->
      """SELECT vec_id,
         round(list_sum(embedding::DOUBLE[]), 4) AS vsum,
         round(list_max(embedding::DOUBLE[]), 4) AS vmax,
         round(list_min(embedding::DOUBLE[]), 4) AS vmin,
         len(list_filter(embedding::DOUBLE[], x -> x > 0))::INT AS n_pos,
         round(list_dot_product(embedding::DOUBLE[],
           list_reverse(embedding::DOUBLE[])), 4) AS dot_rev
         FROM embeddings ORDER BY vec_id""",

    "pipeline_scd2" ->
      """SELECT user_id, event_id, value, epoch_us(ts) AS valid_from,
         lead(epoch_us(ts)) OVER w AS valid_to,
         lead(epoch_us(ts)) OVER w IS NULL AS is_current
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ORDER BY user_id, valid_from, event_id""",

    "window_rolling_median" ->
      """SELECT user_id, event_id,
         round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
           ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS med4
         FROM events ORDER BY user_id, event_id""",

    "window_distribution" ->
      """SELECT o_orderstatus, o_orderkey,
         round(percent_rank() OVER w, 6) AS pr,
         round(cume_dist() OVER w, 6) AS cd,
         nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
           ORDER BY o_totalprice, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_key
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
           ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderstatus, o_orderkey""",

    "window_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
         (epoch_ms(o_orderdate) - epoch_ms(lag(o_orderdate) OVER w))
           // 3600000 AS hours_since_prev,
         (epoch_ms(lead(o_orderdate) OVER w) - epoch_ms(o_orderdate))
           // 3600000 AS hours_until_next
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "agg_rollup" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
         (grouping(l_returnflag)*2 + grouping(l_linestatus))::BIGINT AS gid,
         count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, rf, ls""",
    "agg_percentiles" ->
      """SELECT l_returnflag AS rf,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
         round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "agg_ratio" ->
      """SELECT l_returnflag, count(*) AS n,
         round(count(*) / (SELECT count(*)::DOUBLE FROM lineitem), 4) AS pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_group_stats" ->
      """SELECT o_orderpriority, count(*) AS n,
         round(avg(o_totalprice), 2) AS avg_price,
         round(median(o_totalprice), 2) AS median_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "agg_value_counts" ->
      """SELECT coalesce(event_type, '__NA__') AS event_type, count(*) AS n
         FROM events GROUP BY 1 ORDER BY n DESC, event_type""",
    "agg_distinct" ->
      """SELECT count(DISTINCT lower(trim(c_mktsegment))) AS n_seg,
         count(DISTINCT c_nationkey) AS n_nat FROM customer""",
    "agg_avg_positive" ->
      """SELECT event_type,
         coalesce(round(avg(CASE WHEN value > 0 THEN value END), 2), 0.0) AS avg_pos
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_pivot" ->
      """SELECT l_returnflag,
         count(*) FILTER (WHERE l_linestatus = 'F') AS "F",
         count(*) FILTER (WHERE l_linestatus = 'O') AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_pivot_pct" ->
      """SELECT l_returnflag,
         round(100.0 * count(*) FILTER (WHERE l_linestatus = 'F') / count(*), 2) AS "F",
         round(100.0 * count(*) FILTER (WHERE l_linestatus = 'O') / count(*), 2) AS "O"
         FROM lineitem WHERE l_linestatus IN ('F','O')
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""",
    "join_flag" ->
      """SELECT c_custkey,
         EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
         FROM customer ORDER BY c_custkey""",
    "join_audit_before_after" ->
      """WITH after AS (
           SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 250.0
                  ELSE o_totalprice END AS price_after,
             CASE WHEN o_orderstatus = 'P' THEN 'F' ELSE o_orderstatus END AS status_after
           FROM orders)
         SELECT b.o_orderkey, b.o_totalprice AS price_before,
           b.o_orderstatus AS status_before, a.price_after, a.status_after,
           NOT (abs(b.o_totalprice - a.price_after)
                <= 1e-8 + 1e-5 * abs(a.price_after)) AS price_changed,
           b.o_orderstatus IS DISTINCT FROM a.status_after AS status_changed
         FROM orders b JOIN after a USING (o_orderkey)
         WHERE NOT (abs(b.o_totalprice - a.price_after)
                    <= 1e-8 + 1e-5 * abs(a.price_after))
            OR b.o_orderstatus IS DISTINCT FROM a.status_after
         ORDER BY o_orderkey""",
    "join_star" ->
      """SELECT n_name AS nation,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY nation""",
    "set_except" ->
      """SELECT n_nationkey FROM nation
         EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal > 3000
         ORDER BY n_nationkey""",
    "window_running" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "sort_topn" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "sort_paginate" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 50 OFFSET 100""",
    "rowid_stable" ->
      """SELECT row_number() OVER (ORDER BY n_nationkey) AS rowid,
         n_nationkey, n_name FROM nation ORDER BY rowid""",
    "filter_search_any" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
         WHERE lower(p_name) LIKE '%red%' OR lower(p_brand) LIKE '%red%'
            OR lower(p_type) LIKE '%red%'
         ORDER BY p_partkey""",
    "filter_bool" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE (event_type = 'purchase' OR event_type = 'click') AND value > 0
         ORDER BY event_id""",
    "project_ensure_cols" ->
      """SELECT 'nexo' AS source, n_nationkey, n_name,
         CAST(NULL AS DOUBLE) AS extra_price
         FROM nation ORDER BY n_nationkey""",
    "drop_all_null" ->
      """SELECT event_id,
         CASE WHEN value > 100 THEN value END AS big_value,
         CASE WHEN event_type = 'click' THEN 1 END AS click_mark
         FROM events
         WHERE value > 100 OR event_type = 'click'
         ORDER BY event_id""",
    "scalar_canon_unit" ->
      """SELECT p_partkey,
         CAST(p_partkey AS VARCHAR) AS unit_from_float,
         '12' AS unit_padded,
         'U-' || p_partkey AS unit_alpha
         FROM part ORDER BY p_partkey""",
    "scalar_norm_clean" ->
      """SELECT c_custkey, lower(trim(c_mktsegment)) AS seg_norm,
         'a b ' || c_name AS name_clean
         FROM customer ORDER BY c_custkey""",
    "scalar_accent_fold" ->
      """SELECT n_nationkey, 'ae ' || n_name AS folded
         FROM nation ORDER BY n_nationkey""",
    "scalar_tower_prefix" ->
      """SELECT p_partkey,
         CASE WHEN p_size % 3 = 0 THEN 'Capadocia' ELSE 'Other' END AS proyecto,
         CASE WHEN p_size % 2 = 0 THEN 'A1' ELSE 'X2' END AS tipologia,
         CASE WHEN p_size % 3 = 0 AND p_size % 2 = 0
              THEN 'A' || CAST(p_partkey AS VARCHAR)
              ELSE CAST(p_partkey AS VARCHAR) END AS unidad
         FROM part ORDER BY p_partkey""",
    "scalar_update_coalesce" ->
      """SELECT o_orderkey,
         coalesce(incoming, existing) AS prefer_new,
         coalesce(existing, incoming) AS prefer_existing
         FROM (SELECT o_orderkey,
           CASE WHEN o_orderstatus <> 'O' THEN o_totalprice END AS existing,
           CASE WHEN o_totalprice > 1000 THEN o_totalprice + 500.0 END AS incoming
           FROM orders) ORDER BY o_orderkey""",
    "scalar_isclose" ->
      """SELECT l_orderkey, l_linenumber,
         abs(l_extendedprice - l_extendedprice * (1 + 1e-7))
           <= 1e-8 + 1e-5 * abs(l_extendedprice * (1 + 1e-7)) AS close_within_rtol,
         abs(l_extendedprice - (l_extendedprice + 1.0))
           <= 1e-8 + 1e-5 * abs(l_extendedprice + 1.0) AS close_outside,
         TRUE AS both_null_close
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "scalar_nullsafe_neq" ->
      """SELECT l_orderkey, l_linenumber,
         nullif(l_returnflag, 'N') IS DISTINCT FROM nullif(l_linestatus, 'O') AS changed
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "scalar_fingerprint" ->
      """SELECT doc_id,
         list_reduce(list_transform(string_split(text, ''), x -> ord(x)::BIGINT),
           (a, b) -> (a * 31 + b) % 1000000007) AS fp
         FROM documents ORDER BY doc_id"""
  )
}
