package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators._

/** Core relational operator queries (SURVEY.md §2.1-§2.7) expressed over the
  * TPC-H-ish testdata. Every query carries a deterministic total ordering and
  * aliases every computed column to match its DuckDB oracle. Computed doubles
  * are rounded; pass-through doubles are left untouched (bit-exact from
  * parquet in both engines).
  */
object Relational extends GateBatch {

  val defs: Map[String, Q] = Map(
    // A1 — grouped multi-aggregate with named outputs
    "agg_groupby_multi" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          countDistinct("l_orderkey").as("n_orders"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A3/A4/A5 — global count / mean / exact median
    "agg_global_stats" -> ((s, dir) => {
      tbl(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        round(avg("l_extendedprice"), 2).as("avg_price"),
        round(median(col("l_extendedprice")), 2).as("median_price"),
        round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    // J1 — LEFT equi-join, dim side broadcast by Catalyst
    "join_left" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .select(o("o_orderkey"), o("o_custkey"), c("c_name"), c("c_mktsegment"),
          o("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // J2 (Ultimo rule) — keep the LAST row per key in input/load order,
    // ignoring the timestamp (ref `Actualizar_Precios_de_Nexo.py:141`
    // keep="last"; event_id is the load ordinal of the events table)
    "dedup_latest_ultimo" -> ((s, dir) => {
      DedupLatest.lastByOrdinal(tbl(s, dir, "events"), Seq("user_id"), "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),

    // J2/O1/O2 — argmax-by-date dedup (latest event per user)
    "dedup_latest" -> ((s, dir) => {
      DedupLatest.latestBy(tbl(s, dir, "events"), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),

    // U1 — union-by-name with outer schema union (missing cols -> NULL)
    "union_by_name" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"), lit("customer").as("side"))
      val su = tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"),
          lit("supplier").as("side"))
      UnionByName(Seq(c, su)).orderBy("side", "id")
    }),

    // F3/F4 — locale-tolerant numeric parse (custom Catalyst expression)
    "scalar_locale_parse" -> ((s, dir) => {
      val k = col("l_orderkey") + lit(1000000L)
      val enStr = format_number(k, 0) // "1,234,567"
      val esStr = translate(enStr, ",", ".") // "1.234.567"
      tbl(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(localeNum(concat(esStr, lit(","), col("l_linenumber"))), 1).as("parsed_es"),
        round(localeNum(concat(enStr, lit("."), col("l_linenumber"))), 1).as("parsed_en"),
        // multi-dot reference semantics: last group becomes the decimals
        round(localeNum(esStr), 3).as("parsed_dots"),
        safeNum(lit("N/A")).as("parsed_sentinel"))
        .orderBy("l_orderkey", "l_linenumber")
    })
  )

  val oracles: Map[String, String] = Map(
    "agg_groupby_multi" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_quantity), 2) AS sum_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_global_stats" ->
      """SELECT count(*) AS n, round(avg(l_extendedprice), 2) AS avg_price,
         round(median(l_extendedprice), 2) AS median_price,
         round(sum(l_quantity), 2) AS sum_qty FROM lineitem""",
    "join_left" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "dedup_latest" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "dedup_latest_ultimo" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "union_by_name" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
           'customer' AS side FROM customer
         UNION ALL
         SELECT s_suppkey, s_name, NULL, 'supplier' FROM supplier
         ORDER BY side, id""",
    "scalar_locale_parse" ->
      """SELECT l_orderkey, l_linenumber,
         round((l_orderkey + 1000000) + l_linenumber / 10.0, 1) AS parsed_es,
         round((l_orderkey + 1000000) + l_linenumber / 10.0, 1) AS parsed_en,
         round(floor((l_orderkey + 1000000) / 1000)
           + ((l_orderkey + 1000000) % 1000) / 1000.0, 3) AS parsed_dots,
         CAST(NULL AS DOUBLE) AS parsed_sentinel
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""
  )
}
