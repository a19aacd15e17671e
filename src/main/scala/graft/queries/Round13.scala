package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.query.ViewServer
import graft.sinks.Writers

/** Round-13 batch: the sink tier (SURVEY §2.1 S5–S11) and the display
  * tier (A9/A12 live charts, O4 locale-numeric sort) as oracle gates —
  * the rows the round-12 verdict called out as spec-tested only.
  *
  * Every `sink_*` gate is a WRITE → READ-BACK → normalize round trip:
  * the Spark side drives the real writer ([[graft.sinks.Writers]]),
  * re-reads its own output files, and returns the read-back rows; the
  * oracle recomputes the expected CONTENT from the source tables. A
  * hash match therefore pins both the transformation and the on-disk
  * round trip (schema, nulls, partition values) in one gate.
  *
  * The CRM shape is fabricated from `part` the same way the pipeline
  * gates map TPC-H onto E1: `p_brand` plays Proyecto (25 projects),
  * `p_type` plays Estado (nulled every 7th size for the `__NA__`
  * paths), `p_retailprice`/`p_size` play the price/area numerics. */
object Round13 extends GateBatch {

  /** Estado nulls: every size divisible by 7 — exercises null
    * partition-free columns in sinks and the `__NA__` bucket in A9. */
  private def unitsFrom(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part").select(
      col("p_brand").as("Proyecto"),
      col("p_partkey").cast("string").as("Numero de inmueble"),
      when(col("p_size") % 7 === 0, lit(null))
        .otherwise(col("p_type")).as("Estado de inmueble"),
      col("p_retailprice").as("Precio de lista_num"),
      col("p_size").cast("double").as("Area total_num"))

  /** Deterministic per-gate/per-SF output root under target/ — writers
    * run in Overwrite mode, so re-runs are idempotent and the DuckDB
    * pass (which runs after the Spark pass) always sees fresh files. */
  private def outDir(name: String, dir: String): String =
    new java.io.File(s"target/gates/r13/${name}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath

  private val unitsSql =
    """SELECT p_brand AS proyecto, p_partkey::VARCHAR AS numero,
         CASE WHEN p_size % 7 = 0 THEN NULL ELSE p_type END AS estado,
         p_retailprice AS precio_num, p_size::DOUBLE AS area_num
       FROM part"""

  val defs: Map[String, Q] = Map(

    // S5 — per-project partitioned sink: write one directory per
    // Proyecto (keys ordered first), read the whole tree back, return
    // the content. Partition values carry '#' (escaped on disk) and
    // the Estado column carries nulls — both must survive the trip
    "sink_per_project" -> ((s, dir) => {
      val out = outDir("sink_per_project", dir)
      Writers.perProject(unitsFrom(s, dir),
        Seq("Proyecto", "Numero de inmueble"), out)
      s.read.parquet(out).select(
        col("Proyecto").cast("string").as("proyecto"),
        col("Numero de inmueble").as("numero"),
        col("Estado de inmueble").as("estado"),
        col("Precio de lista_num").as("precio_num"),
        col("Area total_num").as("area_num"))
        .orderBy("proyecto", "numero")
    }),

    // S7 — changed-rows-only detail sink: only rows with either change
    // flag reach the files; the read-back must contain exactly those
    "sink_changed_detail" -> ((s, dir) => {
      val out = outDir("sink_changed_detail", dir)
      val detalle = unitsFrom(s, dir)
        .withColumn("Cambio_PrecioLista", col("Precio de lista_num") > 1500)
        .withColumn("Cambio_Estado", col("Area total_num") % 5 === 0)
      Writers.changedDetail(detalle, out)
      s.read.parquet(out).select(
        col("Proyecto").cast("string").as("proyecto"),
        col("Numero de inmueble").as("numero"),
        col("Precio de lista_num").as("precio_num"),
        col("Cambio_PrecioLista").as("cambio_precio"),
        col("Cambio_Estado").as("cambio_estado"))
        .orderBy("proyecto", "numero")
    }),

    // S6 — audit workbook: three sheets (resumen, only-left,
    // only-right key differences) written as three directories; the
    // gate reads each sheet back and reduces it to (sheet, n_rows,
    // checksum) so one frame pins all three round trips
    "sink_audit_workbook" -> ((s, dir) => {
      val out = outDir("sink_audit_workbook", dir)
      val parts = tbl(s, dir, "part")
      // null keys out on BOTH sides: a NULL l_partkey never equi-joins
      // in Spark's anti join but poisons the oracle's NOT IN — filter
      // symmetrically so the sheets agree on nullable extracts
      val li = tbl(s, dir, "lineitem").select(col("l_partkey"))
        .where(col("l_partkey").isNotNull).distinct()
      val resumen = parts.groupBy(col("p_brand").as("Proyecto"))
        .agg(count(lit(1)).as("unidades"),
          (round(avg("p_retailprice"), 2) + lit(0.0)).as("precio_promedio"))
      val soloNexo = parts
        .join(li, col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_brand").as("Proyecto"),
          col("p_partkey").as("numero"))
      val soloSperant = li
        .join(parts, col("l_partkey") === col("p_partkey"), "left_anti")
        .select(col("l_partkey").as("numero"))
      Writers.auditWorkbook(resumen, soloNexo, soloSperant, out)
      val rb = s.read.parquet(s"$out/resumen")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum("unidades"), lit(0L)).as("checksum"))
        .select(lit("resumen").as("sheet"), col("n_rows"), col("checksum"))
      val nb = s.read.parquet(s"$out/solo_en_df_total")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum("numero"), lit(0L)).as("checksum"))
        .select(lit("solo_en_df_total").as("sheet"), col("n_rows"),
          col("checksum"))
      val sb = s.read.parquet(s"$out/solo_en_sperant")
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum("numero"), lit(0L)).as("checksum"))
        .select(lit("solo_en_sperant").as("sheet"), col("n_rows"),
          col("checksum"))
      rb.unionByName(nb).unionByName(sb).orderBy("sheet")
    }),

    // S8 + S11 — JSON records sink and JSON source: write one object
    // per line (null fields omitted), read back through the S11 reader,
    // cast to the written schema. The null Estado rows must come back
    // null from their omitted keys
    "sink_records_json" -> ((s, dir) => {
      val out = outDir("sink_records_json", dir)
      Writers.recordsJson(unitsFrom(s, dir).select(
        col("Proyecto"), col("Numero de inmueble"),
        col("Estado de inmueble"), col("Precio de lista_num")), out)
      Writers.readJson(s, out).select(
        col("Proyecto").cast("string").as("proyecto"),
        col("Numero de inmueble").cast("string").as("numero"),
        col("Estado de inmueble").cast("string").as("estado"),
        col("Precio de lista_num").cast("double").as("precio_num"))
        .orderBy("proyecto", "numero")
    }),

    // S10 — quoted CSV export: header + quoteAll, read back with the
    // header and explicit casts (CSV is typeless on disk). p_name's
    // embedded spaces ride inside the quotes
    "sink_csv_export" -> ((s, dir) => {
      val out = outDir("sink_csv_export", dir)
      Writers.csvExport(tbl(s, dir, "part").select(
        col("p_brand").as("proyecto"),
        col("p_partkey").cast("string").as("numero"),
        col("p_name").as("nombre"),
        col("p_retailprice").as("precio_num")), out)
      s.read.option("header", "true").csv(out).select(
        col("proyecto"), col("numero"), col("nombre"),
        col("precio_num").cast("double").as("precio_num"))
        .orderBy("proyecto", "numero")
    }),

    // S9 — nested KPI JSON document: the E2 pipeline's single-document
    // sink, written via the real driver-side writer, read back as
    // nested JSON (cards struct + by_proyecto map), exploded to one
    // row per project plus an __ALL__ row from the global cards
    "sink_kpi_json" -> ((s, dir) => {
      val path = outDir("sink_kpi_json", dir) + "/kpis.json"
      val units = unitsFrom(s, dir)
      Writers.kpisJson(graft.pipeline.Kpi.toJson(units,
        "Precio de lista_num", "Estado de inmueble", "round13"), path)
      val node = new StructType()
        .add("unidades", LongType).add("precio_promedio", DoubleType)
        .add("precio_median", DoubleType)
      val schema = new StructType()
        .add("cards", new StructType()
          .add("unidades_totales", LongType)
          .add("precio_promedio", DoubleType)
          .add("precio_median", DoubleType))
        .add("by_proyecto", MapType(StringType, node))
      val doc = s.read.schema(schema).json(path)
      val perP = doc.select(explode(col("by_proyecto")).as(Seq("p", "v")))
        .select(col("p").as("proyecto"),
          col("v.unidades").as("unidades"),
          col("v.precio_promedio").as("precio_promedio"),
          col("v.precio_median").as("precio_median"))
      val all = doc.select(lit("__ALL__").as("proyecto"),
        col("cards.unidades_totales").as("unidades"),
        col("cards.precio_promedio").as("precio_promedio"),
        col("cards.precio_median").as("precio_median"))
      perP.unionByName(all).orderBy("proyecto")
    }),

    // A9 — the dashboard's live count-by-estado chart over a filtered
    // view (ref index_2.html:302-342): one project selected, nulls in
    // the __NA__ bucket, ordered by count like the rendered bars
    "view_count_by_estado" -> ((s, dir) => {
      val vs = new ViewServer(unitsFrom(s, dir), "units_r13_a9")
      val out = vs.countByEstado(vs.filtered(proyecto = Some("Brand#7")))
      vs.close()
      out
    }),

    // A12 — the price-vs-area scatter projection over the filtered
    // view: positive pairs only, one estado selected
    "view_scatter" -> ((s, dir) => {
      val vs = new ViewServer(unitsFrom(s, dir), "units_r13_a12")
      val out = vs.scatter(
        vs.filtered(estado = Some("ECONOMY")),
        "Precio de lista_num", "Area total_num")
        .select(col("x"), col("y"), col("Proyecto").as("proyecto"),
          col("estado"))
        .orderBy("proyecto", "x", "y")
      vs.close()
      out
    }),

    // O4 — the dashboard's localeCompare("es", {numeric: true}) sort,
    // materialized as a rank so the ORDER ITSELF is what hashes: the
    // label domain is bounded (distinct size x suffix, a few hundred
    // values), so the one unpartitioned row_number window runs over a
    // dashboard-sized frame, never the fact table. Labels are single-
    // case ASCII, where the ICU "es" collation coincides with binary
    // order — the numeric-awareness ("Torre-2" before "Torre-10") is
    // exactly what separates this gate from a plain string sort
    "sort_locale_numeric" -> ((s, dir) => {
      val labels = tbl(s, dir, "part")
        .select(concat(lit("Torre-"), col("p_size"), lit("-"),
          col("p_partkey") % 4).as("label"))
        .distinct()
      val keys = ViewServer.localeNumericKeys(col("label"), "es")
      labels.withColumn("rk",
        row_number().over(Window.orderBy(keys.map(_.asc): _*))
          .cast("long"))
        .orderBy("rk")
    }))

  val oracles: Map[String, String] = Map(

    "sink_per_project" ->
      s"""$unitsSql ORDER BY proyecto, numero""",

    "sink_changed_detail" ->
      """SELECT p_brand AS proyecto, p_partkey::VARCHAR AS numero,
           p_retailprice AS precio_num,
           p_retailprice > 1500 AS cambio_precio,
           p_size::DOUBLE % 5 = 0 AS cambio_estado
         FROM part
         WHERE p_retailprice > 1500 OR p_size::DOUBLE % 5 = 0
         ORDER BY proyecto, numero""",

    "sink_audit_workbook" ->
      """WITH li AS (SELECT DISTINCT l_partkey FROM lineitem
           WHERE l_partkey IS NOT NULL),
         resumen AS (SELECT 'resumen' AS sheet, count(*)::BIGINT AS n_rows,
             coalesce(sum(u), 0)::BIGINT AS checksum
           FROM (SELECT p_brand, count(*)::BIGINT AS u FROM part GROUP BY 1)),
         nexo AS (SELECT 'solo_en_df_total' AS sheet,
             count(*)::BIGINT AS n_rows,
             coalesce(sum(p_partkey), 0)::BIGINT AS checksum
           FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM li)),
         sperant AS (SELECT 'solo_en_sperant' AS sheet,
             count(*)::BIGINT AS n_rows,
             coalesce(sum(l_partkey), 0)::BIGINT AS checksum
           FROM li WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
         SELECT * FROM resumen UNION ALL
         SELECT * FROM nexo UNION ALL
         SELECT * FROM sperant ORDER BY sheet""",

    "sink_records_json" ->
      """SELECT p_brand AS proyecto, p_partkey::VARCHAR AS numero,
           CASE WHEN p_size % 7 = 0 THEN NULL ELSE p_type END AS estado,
           p_retailprice AS precio_num
         FROM part ORDER BY proyecto, numero""",

    "sink_csv_export" ->
      """SELECT p_brand AS proyecto, p_partkey::VARCHAR AS numero,
           p_name AS nombre, p_retailprice AS precio_num
         FROM part ORDER BY proyecto, numero""",

    "sink_kpi_json" ->
      """SELECT p_brand AS proyecto, count(*)::BIGINT AS unidades,
           round(avg(p_retailprice), 2) AS precio_promedio,
           round(median(p_retailprice), 2) AS precio_median
         FROM part GROUP BY 1
         UNION ALL
         SELECT '__ALL__', count(*)::BIGINT,
           round(avg(p_retailprice), 2), round(median(p_retailprice), 2)
         FROM part
         ORDER BY proyecto""",

    "view_count_by_estado" ->
      """SELECT coalesce(CASE WHEN p_size % 7 = 0 THEN NULL
             ELSE p_type END, '__NA__') AS estado,
           count(*)::BIGINT AS n
         FROM part WHERE p_brand = 'Brand#7'
         GROUP BY 1 ORDER BY n DESC, estado""",

    "view_scatter" ->
      """SELECT p_size::DOUBLE AS x, p_retailprice AS y,
           p_brand AS proyecto, p_type AS estado
         FROM part
         WHERE (CASE WHEN p_size % 7 = 0 THEN NULL ELSE p_type END)
             = 'ECONOMY'
           AND p_retailprice > 0 AND p_size > 0
         ORDER BY proyecto, x, y""",

    "sort_locale_numeric" ->
      """WITH labs AS (SELECT DISTINCT
             'Torre-' || p_size || '-' || (p_partkey % 4) AS label
           FROM part),
         keyed AS (SELECT label,
             regexp_extract(label, '^(\D*)', 1) AS pre,
             regexp_extract(label, '^\D*(\d+)', 1) AS dig,
             regexp_replace(label, '^\D*\d*', '') AS rest
           FROM labs)
         SELECT label,
           row_number() OVER (ORDER BY pre, length(dig), dig, rest)::BIGINT
             AS rk
         FROM keyed ORDER BY rk""")
}
