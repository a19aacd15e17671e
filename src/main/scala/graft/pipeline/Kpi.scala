package graft.pipeline

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}
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
  * matching the reference's S9 sink shape. [[toJson]] computes every
  * group kind in one grouping-sets aggregate.
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

  /** The nested KPI document from ONE aggregate: `GROUPING SETS ((),
    * (Proyecto), (estado), (Proyecto, estado))` carries each group's
    * count and, for the global and per-Proyecto groups, the rounded mean
    * and exact median (the expressions of [[cards]], [[byProyecto]] and
    * [[byEstado]]), fetched in one bounded collect.
    * The driver then orders the groups as those frames' `orderBy` does:
    * strings by their UTF-8 bytes (Spark's binary order, not Java's
    * UTF-16 one), counts descending before estado. Each group kind has
    * its own `maxGroups` check, applied in the order Proyecto, estado,
    * Proyecto x estado. A null `Proyecto` counts as a group, but the
    * document leaves it out of `by_proyecto`: a JSON key cannot be null,
    * and the reference's pandas `groupby` drops NaN keys too. */
  def toJson(df: DataFrame, priceNum: String, estadoCol: String,
             generatedAt: String, maxGroups: Int = MaxJsonGroups): String = {
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // python-json repr parity: integral doubles print one decimal (558372.0)
    def jnum(d: Double) = if (d == d.floor && !d.isInfinite) f"$d%.1f" else d.toString

    // grouping_id bits, Proyecto high: 0 = both keys, 1 = Proyecto,
    // 2 = estado, 3 = the global cards
    val (both, proyecto, estado, global) = (0, 1, 2, 3)
    val kinds = Seq(proyecto -> "Proyecto", estado -> "estado",
      both -> "Proyecto x estado")
    def overCap(what: String) = new IllegalArgumentException(
      s"Kpi.toJson: more than $maxGroups $what groups — a KPI document " +
        "this large would OOM the driver; aggregate coarser first")
    val keyed = df.select(col("Proyecto"),
      coalesce(col(estadoCol).cast("string"), lit("__NA__")).as("estado"),
      col(priceNum))
    // the document reads prices only for the global and per-Proyecto
    // groups, so the estado groups do not buffer every price for `median`
    val price = when(grouping_id().isin(proyecto, global), col(priceNum))
    val agg = keyed
      .groupingSets(Seq(Seq(), Seq(col("Proyecto")), Seq(col("estado")),
        Seq(col("Proyecto"), col("estado"))), col("Proyecto"), col("estado"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        coalesce(round(avg(price), 2), lit(0.0)).as("promedio"),
        coalesce(round(median(price), 2), lit(0.0)).as("mediana"))
      .select("gid", "Proyecto", "estado", "n", "promedio", "mediana")
    val rows = BoundedCollect(agg, 1L + 3L * maxGroups) match {
      case Some(rows) =>
        val sizes = rows.groupBy(_.getInt(0)).view.mapValues(_.length).toMap
        kinds.collectFirst { case (g, what) if sizes.getOrElse(g, 0) > maxGroups =>
          what
        }.foreach(what => throw overCap(what))
        rows
      case None =>
        // more than 1 + 3 maxGroups rows, and Proyecto x estado has at
        // least as many groups as either other kind, so it is over the
        // cap; name a kind checked before it if that one is over too
        throw overCap(kinds.init.collectFirst { case (g, what)
            if BoundedCollect(agg.where(col("gid") === g), maxGroups).isEmpty =>
          what
        }.getOrElse(kinds.last._2))
    }

    val utf8: Ordering[String] = (a, b) => java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
    val byCount = Ordering.by[Row, Long](-_.getLong(3))
      .orElse(Ordering.by[Row, String](_.getString(2))(utf8))
    val groups = rows.groupBy(_.getInt(0)).withDefaultValue(Array.empty[Row])
    val estados = groups(both).groupBy(_.getString(1))

    // an empty input has no global group; its cards are all zero
    val (units, mean, med) = groups(global).headOption
      .fold((0L, 0.0, 0.0))(r => (r.getLong(3), r.getDouble(4), r.getDouble(5)))
    val cardsJson =
      s"""{"unidades_totales": $units, "precio_promedio": ${jnum(mean)}, "precio_median": ${jnum(med)}}"""
    val byProyectoJson = groups(proyecto).filterNot(_.isNullAt(1))
      .sortBy(_.getString(1))(utf8).map { r =>
        val p = r.getString(1)
        val porEstado = estados.getOrElse(p, Array.empty).sorted(byCount)
          .map(e => s"${jstr(e.getString(2))}: ${e.getLong(3)}")
          .mkString("{", ", ", "}")
        s"""${jstr(p)}: {"unidades": ${r.getLong(3)}, "precio_promedio": ${jnum(r.getDouble(4))}, "precio_median": ${jnum(r.getDouble(5))}, "por_estado": $porEstado}"""
      }.mkString("{", ", ", "}")
    val byEstadoJson = groups(estado).sorted(byCount)
      .map(r => s"${jstr(r.getString(2))}: ${r.getLong(3)}")
      .mkString("{", ", ", "}")

    s"""{"generated_at": ${jstr(generatedAt)}, "cards": $cardsJson, "by_proyecto": $byProyectoJson, "by_estado": $byEstadoJson}"""
  }
}
