package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Paginate, PivotCounts, SearchAll}

/** E3 — the interactive query surface (ref `index.html`/`index_2.html`):
  * a cached session view served with parameterized filter / search /
  * sort / paginate queries plus the four live chart aggregations, all
  * recomputed over the *filtered* view per interaction.
  *
  * The base view is cached once (the dashboard's immutable snapshot);
  * every interaction is then a short codegen'd plan over the cache.
  * A SQL surface comes free: `asTempView` + `spark.sql`.
  */
class ViewServer(base: DataFrame, viewName: String = "units") {

  val view: DataFrame = base.cache()
  view.sparkSession.catalog.dropTempView(viewName)
  view.createOrReplaceTempView(viewName)

  /** E3's SQL surface: any ANSI SQL against the registered snapshot
    * view (`SELECT ... FROM <viewName> WHERE ...`). Resolves to the
    * SAME cached relation as the parameterized methods — Catalyst
    * optimizes both spellings to the same plan (spec-pinned), so the
    * dashboard's query builder and an analyst's raw SQL cannot drift.
    * Parameter values belong in `args` (`sql("... WHERE x = ?", v)`),
    * never string-interpolated into the query. */
  def sql(query: String, args: Any*): DataFrame =
    view.sparkSession.sql(query, args.toArray)

  /** P10/P11 — equality filters + any-column case-insensitive search. */
  def filtered(proyecto: Option[String] = None, estado: Option[String] = None,
               search: Option[String] = None): DataFrame = {
    var df = view
    proyecto.foreach(p => df = df.filter(col("Proyecto") === p))
    estado.foreach(e => df = df.filter(col("Estado de inmueble") === e))
    search.foreach(q => df = SearchAll(df, q))
    df
  }

  /** O4 — single-key sort, numeric-preferent: if a `_num` shadow column
    * exists it orders the rows (the dashboard's numeric-aware collation),
    * otherwise the raw string column. */
  def sorted(df: DataFrame, key: String, asc: Boolean = true): DataFrame = {
    val sortCol: Column =
      if (df.columns.contains(s"${key}_num")) col(s"${key}_num") else col(key)
    df.orderBy(if (asc) sortCol.asc_nulls_last else sortCol.desc_nulls_last)
  }

  /** O4b — locale-collated display sort (ICU collation, e.g. "es"),
    * approximating the dashboard's `localeCompare("es")` ordering. */
  def sortedByLocale(df: DataFrame, key: String, locale: String = "es",
                     asc: Boolean = true): DataFrame = {
    val c = collate(col(key).cast("string"), locale)
    df.orderBy(if (asc) c.asc_nulls_last else c.desc_nulls_last)
  }

  /** O4c — numeric-aware locale sort, approximating the dashboard's
    * `localeCompare("es", {numeric: true})` (ref `index.html:222-234`):
    * keys are (ICU-collated text before the first digit run, the first
    * digit run compared numerically via (length, digits) — "A2" < "A10"
    * with no cast that could overflow — then the ICU-collated remainder).
    * Divergence from full natural sort: digit runs after the first
    * compare lexically inside the remainder, and leading zeros order by
    * digit count; both are beyond the dashboard's unit-label domain.
    */
  def sortedByLocaleNumeric(df: DataFrame, key: String, locale: String = "es",
                            asc: Boolean = true): DataFrame = {
    val ordered = ViewServer.localeNumericKeys(col(key), locale).map(c =>
      if (asc) c.asc_nulls_last else c.desc_nulls_last)
    df.orderBy(ordered: _*)
  }

  /** O5 — page of the current view under a deterministic ordering. */
  def page(df: DataFrame, order: Seq[Column], pageNo: Int, size: Int): DataFrame =
    Paginate(df, order, pageNo, size)

  // ---- the four chart queries (A9-A12), over the filtered view ----
  //
  // A9-A11 end on `coalesce(1).sortWithinPartitions(...)` (SQL: a
  // `/*+ COALESCE(1) */` hint and `SORT BY`), not on a global `orderBy`.
  // A global sort range-partitions its input, which costs a sampling job
  // per call. These results are small by construction: the grouping keys
  // are estados and projects, so a chart has at most projects x estados
  // rows and one task sorts it. The partial aggregation before the
  // exchange stays parallel; only the final merge and the sort run in one
  // task. The single-partition sort is safe for this bounded domain only:
  // operators whose key domain is unbounded (`ValueCounts`,
  // `PivotCounts.apply`) keep their global `orderBy`. Collecting a chart
  // takes 2 jobs (the aggregate's shuffle stage and the result), the
  // scatter projection 1.

  /** A9 — count by estado, nulls in the `__NA__` bucket, largest first.
    * {{{
    * SELECT /*+ COALESCE(1) */
    *   coalesce(`Estado de inmueble`, '__NA__') AS estado, count(1) AS n
    * FROM units GROUP BY 1 SORT BY n DESC, estado
    * }}} */
  def countByEstado(df: DataFrame): DataFrame =
    df.groupBy(coalesce(col("Estado de inmueble"), lit("__NA__")).as("estado"))
      .agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions(col("n").desc, col("estado"))

  /** A10 — average price per project over positive prices only, 0.0 when
    * none (ref `ix2:309-318`).
    * {{{
    * SELECT /*+ COALESCE(1) */ Proyecto,
    *   coalesce(round(avg(CASE WHEN <price> > 0 THEN <price> END), 2), 0.0)
    *     AS precio_promedio
    * FROM units GROUP BY Proyecto SORT BY Proyecto
    * }}} */
  def avgPriceByProyecto(df: DataFrame, priceNum: String): DataFrame =
    df.groupBy("Proyecto").agg(
      coalesce(round(avg(when(col(priceNum) > 0, col(priceNum))), 2), lit(0.0))
        .as("precio_promedio"))
      .coalesce(1).sortWithinPartitions("Proyecto")

  /** A11 — stacked counts proyecto x estado, optionally %-of-row-total
    * ([[PivotCounts.counts]]: one conditional count per estado).
    * {{{
    * SELECT /*+ COALESCE(1) */ Proyecto,
    *   count(CASE WHEN `Estado de inmueble` = '<v1>' THEN 1 END) AS `<v1>`, ...
    * FROM units GROUP BY Proyecto SORT BY Proyecto
    * }}} */
  def stackedCounts(df: DataFrame, estados: Seq[String],
                    percent: Boolean = false): DataFrame =
    PivotCounts.counts(df, "Proyecto", "Estado de inmueble", estados, percent)
      .coalesce(1).sortWithinPartitions("Proyecto")

  /** F17 — the dashboard's money rendering for display/CSV surfaces:
    * adds a `<col>_fmt` shadow ("S/ 1,234,567", null/NaN -> "–") per
    * requested numeric column, leaving the numeric originals intact for
    * sorting and math (ref `index.html:104-106`). */
  def withMoneyFormatted(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(s"${c}_fmt", graft.functions.GraftFunctions.formatCurrency(col(c))))

  /** A12 — price-vs-area scatter projection over positive pairs, unsorted.
    * {{{
    * SELECT <area> AS x, <price> AS y, Proyecto, `Estado de inmueble` AS estado
    * FROM units WHERE <price> > 0 AND <area> > 0
    * }}} */
  def scatter(df: DataFrame, priceNum: String, areaNum: String): DataFrame =
    df.filter(col(priceNum) > 0 && col(areaNum) > 0)
      .select(col(areaNum).as("x"), col(priceNum).as("y"),
        col("Proyecto"), col("Estado de inmueble").as("estado"))

  def close(): Unit = {
    view.sparkSession.catalog.dropTempView(viewName)
    view.unpersist()
  }
}

object ViewServer {
  /** The O4c composite sort key, shared by [[ViewServer.sortedByLocaleNumeric]]
    * and the `sort_locale_numeric` gate: (ICU-collated text before the
    * first digit run, digit-run length, digit run, ICU-collated
    * remainder) — "A2" < "A10" with no numeric cast that could
    * overflow. On digit-and-single-case-ASCII label domains the ICU
    * order coincides with binary order, which is what lets a plain-
    * collation oracle pin the numeric-awareness exactly. */
  def localeNumericKeys(key: Column, locale: String = "es"): Seq[Column] = {
    val s = key.cast("string")
    Seq(
      collate(regexp_extract(s, "^(\\D*)", 1), locale),
      length(regexp_extract(s, "^\\D*(\\d+)", 1)),
      regexp_extract(s, "^\\D*(\\d+)", 1),
      collate(regexp_replace(s, "^\\D*\\d*", ""), locale))
  }
}
