package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.BoundedCollect

/** E2 — the KPI/JSON pipeline (ref `html_con_datos/python_json.py`):
  * standardized rows with `_num` shadow columns, then a nested aggregate
  * document — global cards (count / mean / exact median), per-project
  * breakdowns, and per-estado value counts with a `__NA__` bucket.
  *
  * The grouped aggregates are plain hash aggregations; only the final
  * (tiny) grouped results are collected to assemble the JSON document,
  * matching the reference's S9 sink shape.
  */
object Kpi {

  case class Cards(unidades: Long, promedio: Double, mediana: Double)

  /** Add `_num` shadow columns via the F4 sentinel-aware fixed-locale
    * parse (ref `pj:120-127`). Faithful to `_safe_num` (`pj:64-78`):
    * already-numeric cells pass through unchanged (xlrd hands the
    * reference floats, and isinstance(float) short-circuits before the
    * string munging); only string cells take the es-PE thousands/decimal
    * rewrite. */
  def withNumShadows(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      if (!d.columns.contains(c)) d
      else {
        val numeric = d.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType]
        val shadow = if (numeric) col(c).cast("double") else safeNum(col(c))
        d.withColumn(s"${c}_num", shadow)
      }
    }

  /** Global cards: row count, round(mean,2), round(exact median,2); all-null
    * price yields 0.0 (ref `pj:138-145`). */
  def cards(df: DataFrame, priceNum: String): DataFrame =
    df.agg(
      count(lit(1)).as("unidades_totales"),
      coalesce(round(avg(priceNum), 2), lit(0.0)).as("precio_promedio"),
      coalesce(round(median(col(priceNum)), 2), lit(0.0)).as("precio_median"))

  /** Per-project cards (ref `pj:148-153`). */
  def byProyecto(df: DataFrame, priceNum: String): DataFrame =
    df.groupBy("Proyecto").agg(
      count(lit(1)).as("unidades"),
      coalesce(round(avg(priceNum), 2), lit(0.0)).as("precio_promedio"),
      coalesce(round(median(col(priceNum)), 2), lit(0.0)).as("precio_median"))
      .orderBy("Proyecto")

  /** Estado counts with nulls bucketed as __NA__, optionally per project
    * (ref `pj:154-164`). */
  def byEstado(df: DataFrame, estadoCol: String,
               perProject: Boolean = false): DataFrame = {
    val estado = coalesce(col(estadoCol).cast("string"), lit("__NA__")).as("estado")
    if (perProject)
      df.groupBy(col("Proyecto"), estado).agg(count(lit(1)).as("n"))
        .orderBy(col("Proyecto"), col("n").desc, col("estado"))
    else
      df.groupBy(estado).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("estado"))
  }

  /** KPI documents assume FEW groups (the reference has 8 projects, ~5
    * estados): the grouped results are collected to the driver to build
    * one nested JSON doc. The cap turns a pathological group cardinality
    * (e.g. a per-unit `Proyecto` value) into an immediate error instead
    * of a driver OOM. Raise it only if the document is genuinely meant
    * to carry that many nodes. */
  val MaxJsonGroups = 10000

  def toJson(df: DataFrame, priceNum: String, estadoCol: String,
             generatedAt: String, maxGroups: Int = MaxJsonGroups): String = {
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // python-json repr parity: integral doubles print one decimal (558372.0)
    def jnum(d: Double) = if (d == d.floor && !d.isInfinite) f"$d%.1f" else d.toString
    def fetch(grouped: DataFrame, what: String) =
      BoundedCollect.orFail(grouped, maxGroups, "Kpi.toJson", s"$what groups",
        "a KPI document this large would OOM the driver; aggregate coarser first")

    val c = cards(df, priceNum).head()
    val byP = fetch(byProyecto(df, priceNum), "Proyecto")
    val byE = fetch(byEstado(df, estadoCol), "estado")
    val byPE = fetch(byEstado(df, estadoCol, perProject = true),
      "Proyecto x estado").groupBy(_.getString(0))

    val cardsJson =
      s"""{"unidades_totales": ${c.getLong(0)}, "precio_promedio": ${jnum(c.getDouble(1))}, "precio_median": ${jnum(c.getDouble(2))}}"""
    val byProyectoJson = byP.map { r =>
      val p = r.getString(0)
      val estados = byPE.getOrElse(p, Array.empty).map { e =>
        s"${jstr(e.getString(1))}: ${e.getLong(2)}"
      }.mkString("{", ", ", "}")
      s"""${jstr(p)}: {"unidades": ${r.getLong(1)}, "precio_promedio": ${jnum(r.getDouble(2))}, "precio_median": ${jnum(r.getDouble(3))}, "por_estado": $estados}"""
    }.mkString("{", ", ", "}")
    val byEstadoJson = byE.map { r =>
      s"${jstr(r.getString(0))}: ${r.getLong(1)}"
    }.mkString("{", ", ", "}")

    s"""{"generated_at": ${jstr(generatedAt)}, "cards": $cardsJson, "by_proyecto": $byProyectoJson, "by_estado": $byEstadoJson}"""
  }
}
