package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.operators.BoundedCollect
import graft.pipeline.Kpi

/** `Kpi.toJson` builds its document from one grouping-sets aggregate.
  * Every document must equal, string for string, the one the four
  * separate grouped queries gave ([[fourQueryJson]]), whose orderings
  * Spark applied: binary UTF-8 strings, counts descending. */
class KpiDocumentSpec extends SparkTestBase {

  private val Price = "Precio de lista_num"
  private val Estado = "Estado de inmueble"

  /** The document as it was assembled from `cards`, `byProyecto` and
    * the two `byEstado` queries, each fetched on its own. One change: a
    * null `Proyecto` group is left out of `by_proyecto` (it made `jstr`
    * throw a NullPointerException; pandas' `groupby` drops NaN keys). */
  private def fourQueryJson(df: DataFrame, priceNum: String,
                            estadoCol: String, generatedAt: String,
                            maxGroups: Int = Kpi.MaxJsonGroups): String = {
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def jnum(d: Double) = if (d == d.floor && !d.isInfinite) f"$d%.1f" else d.toString
    def fetch(grouped: DataFrame, what: String) =
      BoundedCollect.orFail(grouped, maxGroups, "Kpi.toJson", s"$what groups",
        "a KPI document this large would OOM the driver; aggregate coarser first")

    val c = Kpi.cards(df, priceNum).head()
    val byP = fetch(Kpi.byProyecto(df, priceNum), "Proyecto")
    val byE = fetch(Kpi.byEstado(df, estadoCol), "estado")
    val byPE = fetch(Kpi.byEstado(df, estadoCol, perProject = true),
      "Proyecto x estado").groupBy(_.getString(0))

    val cardsJson =
      s"""{"unidades_totales": ${c.getLong(0)}, "precio_promedio": ${jnum(c.getDouble(1))}, "precio_median": ${jnum(c.getDouble(2))}}"""
    val byProyectoJson = byP.filterNot(_.isNullAt(0)).map { r =>
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

  private val Schema = StructType(Seq(StructField("Proyecto", StringType),
    StructField(Price, DoubleType), StructField(Estado, StringType)))

  private def frame(rows: Seq[Row], partitions: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions),
      Schema)

  // "z😀" sorts before "zｱ" in Java's UTF-16 order and
  // after it in UTF-8 byte order; "Zeta" never has a price
  private val Projects = Seq(null, "Alba", "alba", "Ñandú", "Ärbol", "Zeta",
    "z😀", "zｱ", "q\"uo\\te")
  private val Estados = Seq(null, "Disponible", "Vendido", "Separado", "ñ",
    "😀", "ｱ")

  private def randomRows(seed: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    (1 to rnd.nextInt(120) + 1).map { _ =>
      val p = Projects(rnd.nextInt(Projects.size))
      val price =
        if (p == "Zeta" || rnd.nextInt(5) == 0) null
        else Double.box(rnd.nextInt(100000) / 100.0)
      Row(p, price, Estados(rnd.nextInt(Estados.size)))
    }
  }

  private def both(df: DataFrame, maxGroups: Int = Kpi.MaxJsonGroups) =
    (Kpi.toJson(df, Price, Estado, "t", maxGroups),
      fourQueryJson(df, Price, Estado, "t", maxGroups))

  test("the one-aggregate document equals the four-query document over " +
    "seeded random inputs") {
    (1 to 12).foreach { seed =>
      val rows = randomRows(seed)
      val (ours, ref) = both(frame(rows))
      assert(ours === ref, s"seed $seed")
    }
  }

  test("null Proyecto and null estado, tied counts, non-ASCII names, " +
    "all-null prices") {
    val rows = Seq(
      Row(null, 10.0, "Vendido"), Row(null, null, null),
      Row("Zeta", null, "Disponible"), Row("Zeta", null, "Vendido"),
      Row("zｱ", 1.005, "ｱ"), Row("z😀", 2.5, "😀"),
      Row("Alba", 3.0, "Vendido"), Row("Alba", 4.0, "Disponible"),
      Row("Alba", 5.0, null), Row("Ñandú", 7.0, "ñ"))
    val (ours, ref) = both(frame(rows))
    assert(ours === ref)
    assert(!ours.contains("null"), "no null key in the document")
    assert(ours.contains("\"unidades_totales\": 10"))
    assert(ours.contains("\"Zeta\": {\"unidades\": 2, \"precio_promedio\": " +
      "0.0, \"precio_median\": 0.0"))
    assert(ours.contains("\"__NA__\": 2"))
    // UTF-8 byte order: U+FF71 (EF BD B1) before U+1F600 (F0 9F 98 80)
    assert(ours.indexOf("zｱ") < ours.indexOf("z😀"))
  }

  test("an empty input gives zero cards and empty groups") {
    val (ours, ref) = both(frame(Nil, 1))
    assert(ours === ref)
    assert(ours.contains("\"cards\": {\"unidades_totales\": 0, " +
      "\"precio_promedio\": 0.0, \"precio_median\": 0.0}"))
  }

  test("each group kind over its cap fails with its own error text") {
    def project(n: Int, estados: Int) = (0 until n).flatMap(p =>
      (0 until estados).map(e => Row(s"P$p", 1.0 * p, s"E$e")))
    // (rows, maxGroups, the kind over the cap); the second and the last
    // overflow the one fetch (1 + 3 maxGroups rows), the others fit it
    val cases = Seq(
      (project(5, 1), 4, "Proyecto"),
      (project(20, 1), 4, "Proyecto"),
      ((0 until 5).map(e => Row("P", 1.0, s"E$e")), 4, "estado"),
      (project(2, 2), 3, "Proyecto x estado"),
      (project(3, 3), 4, "Proyecto x estado"))
    cases.foreach { case (rows, cap, what) =>
      val df = frame(rows)
      val ours = intercept[IllegalArgumentException](
        Kpi.toJson(df, Price, Estado, "t", cap)).getMessage
      val ref = intercept[IllegalArgumentException](
        fourQueryJson(df, Price, Estado, "t", cap)).getMessage
      assert(ours === ref)
      assert(ours.startsWith(s"Kpi.toJson: more than $cap $what groups — "),
        ours)
    }
  }
}
