package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import graft.operators.PivotCounts
import graft.query.ViewServer

/** The dashboard chart set: each aggregate chart ends on a single-partition
  * sort and the stacked chart is one conditional aggregate, so a collect
  * takes at most 2 Spark jobs (the scatter 1), with the same rows, in the
  * same order, as the global-`orderBy` / `pivot` formulation. */
class ViewChartsSpec extends SparkTestBase {
  import spark.implicits._

  private val Price = "Precio de lista_num"
  private val Estados = Seq("Disponible", "Vendido", "Separado")

  // a null estado, an estado outside `Estados` (Oculto), a project with
  // no positive price (Fenix), tied counts across estados (Disponible and
  // Vendido 4 each overall; 1/1 in Matera), spread over 4 partitions
  private lazy val units = Seq[(String, String, java.lang.Double, Double)](
    ("Matera", "Disponible", 1200.5, 80.0),
    ("Matera", "Vendido", 900.0, 70.0),
    ("Matera", null, 950.0, 65.0),
    ("Matera", "Oculto", 0.0, 60.0),
    ("Fenix", "Disponible", null, 60.0),
    ("Fenix", "Vendido", 0.0, 55.0),
    ("Fenix", "Separado", -5.0, 0.0),
    ("Capadocia", "Disponible", 500.0, 50.0),
    ("Capadocia", "Disponible", 700.0, 52.0),
    ("Capadocia", "Vendido", 650.0, 51.0),
    ("Capadocia", "Vendido", 640.0, 49.0),
    ("Capadocia", "Separado", 300.0, 40.0),
    ("Capadocia", "Oculto", 310.0, 41.0),
    ("Capadocia", null, 320.0, 42.0)
  ).toDF("Proyecto", "Estado de inmueble", Price, "Area total_num")
    .repartition(4)

  // the formulation the charts replaced: global orderBy, pivot + fill
  private def oldCountByEstado(df: DataFrame): DataFrame =
    df.groupBy(coalesce(col("Estado de inmueble"), lit("__NA__")).as("estado"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("estado"))

  private def oldAvgPrice(df: DataFrame): DataFrame =
    df.groupBy("Proyecto").agg(
      coalesce(round(avg(when(col(Price) > 0, col(Price))), 2), lit(0.0))
        .as("precio_promedio"))
      .orderBy("Proyecto")

  private def oldPivot(df: DataFrame, rowKey: String, pivotKey: String,
                       values: Seq[String], percent: Boolean): DataFrame = {
    val counts = df.groupBy(rowKey).pivot(pivotKey, values).count()
      .na.fill(0L, values)
    val out =
      if (!percent) counts
      else {
        val withTotal = counts.withColumn("__total", values.map(col).reduce(_ + _))
        values.foldLeft(withTotal) { (acc, v) =>
          acc.withColumn(v, round(lit(100.0) * col(v) / col("__total"), 2))
        }.drop("__total")
      }
    out.orderBy(rowKey)
  }

  /** Spark jobs launched by collecting `df`, and its rows. */
  private def jobsOf(df: DataFrame): (Int, Seq[Row]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Shim.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val rows = df.collect().toSeq
      Shim.drainListeners(sc)
      (jobs.get(), rows)
    } finally sc.removeSparkListener(l)
  }

  private def assertSame(got: DataFrame, gotRows: Seq[Row], expected: DataFrame,
                         what: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      expected.schema.map(f => (f.name, f.dataType)), s"$what schema")
    assert(gotRows.map(_.toSeq) === expected.collect().toSeq.map(_.toSeq),
      s"$what rows")
  }

  test("E3 charts: at most 2 jobs each (scatter 1), rows in the order of " +
    "the orderBy / pivot formulation") {
    val vs = new ViewServer(units, "units_charts")
    try {
      vs.view.count() // fill the cache before counting chart jobs
      val views = Seq(
        "all" -> vs.filtered(),
        "proyecto" -> vs.filtered(proyecto = Some("Capadocia")),
        "estado" -> vs.filtered(estado = Some("Vendido")),
        "search" -> vs.filtered(search = Some("a")))
      views.foreach { case (name, v) =>
        val charts = Seq(
          ("countByEstado", vs.countByEstado(v), oldCountByEstado(v)),
          ("avgPriceByProyecto", vs.avgPriceByProyecto(v, Price), oldAvgPrice(v)),
          ("stackedCounts", vs.stackedCounts(v, Estados),
            oldPivot(v, "Proyecto", "Estado de inmueble", Estados, false)),
          ("stackedCounts(percent)", vs.stackedCounts(v, Estados, percent = true),
            oldPivot(v, "Proyecto", "Estado de inmueble", Estados, true)))
        charts.foreach { case (chart, got, expected) =>
          val (jobs, rows) = jobsOf(got)
          assert(jobs <= 2, s"$chart over '$name' took $jobs jobs")
          assertSame(got, rows, expected, s"$chart over '$name'")
        }
        val (jobs, _) = jobsOf(vs.scatter(v, Price, "Area total_num"))
        assert(jobs === 1, s"scatter over '$name' took $jobs jobs")
      }
      // the fixture's edge cases reach the charts
      val byEstado = vs.countByEstado(vs.view).as[(String, Long)].collect().toSeq
      assert(byEstado.take(2) === Seq("Disponible" -> 4L, "Vendido" -> 4L))
      assert(byEstado.contains("__NA__" -> 2L))
      assert(vs.avgPriceByProyecto(vs.view, Price).as[(String, Double)]
        .collect().toMap.apply("Fenix") === 0.0)
    } finally vs.close()
  }

  test("PivotCounts equals pivot + fill + orderBy, a null row key and " +
    "rows outside the value list included") {
    val df = units.union(Seq[(String, String, java.lang.Double, Double)](
      (null, "Vendido", 1.0, 1.0), ("Solo", "Oculto", 1.0, 1.0),
      ("Solo", "Disponible", 1.0, 1.0))
      .toDF(units.columns: _*))
    Seq(false, true).foreach { percent =>
      val got = PivotCounts(df, "Proyecto", "Estado de inmueble", Estados,
        percent)
      val expected = oldPivot(df, "Proyecto", "Estado de inmueble", Estados,
        percent)
      assertSame(got, got.collect().toSeq, expected, s"percent=$percent")
    }
  }

  test("percent counts give a row key with no listed value null " +
    "percentages, not DIVIDE_BY_ZERO") {
    val df = Seq[(String, String)](("Matera", "Disponible"),
      ("Fenix", "Oculto"), ("Capadocia", null))
      .toDF("Proyecto", "Estado de inmueble")
    val values = Seq("Disponible", "Vendido")
    val expected = Seq(Row("Capadocia", null, null), Row("Fenix", null, null),
      Row("Matera", 100.0, 0.0))
    assert(PivotCounts(df, "Proyecto", "Estado de inmueble", values,
      percent = true).collect().toSeq === expected)
    val vs = new ViewServer(df, "units_zero_total")
    try {
      assert(vs.stackedCounts(vs.view, values, percent = true)
        .collect().toSeq === expected)
    } finally vs.close()
  }
}
