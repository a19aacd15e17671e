package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.query.ViewServer
import graft.sinks.Writers

class SinksAndViewSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val units = Seq(
    ("Matera", "101", "1.200,50", 1200.50, "Disponible", 80.0),
    ("Matera", "102", "900,00", 900.00, "Vendido", 70.0),
    ("Fenix", "201", "N/A", Double.NaN, "Disponible", 60.0),
    ("Fenix", "202", "500,00", 500.00, "Oculto", 0.0)
  ).toDF("Proyecto", "Numero de inmueble", "Precio de lista",
    "Precio de lista_num", "Estado de inmueble", "Area total_num")
    .withColumn("Precio de lista_num",
      when(isnan(col("Precio de lista_num")), lit(null))
        .otherwise(col("Precio de lista_num")))

  test("S5 per-project partitioned sink round-trips with partition pruning") {
    val out = Files.createTempDirectory("sink-s5").toString
    Writers.perProject(units, Seq("Proyecto", "Numero de inmueble"), out)
    val back = spark.read.parquet(out)
    assert(back.count() === 4)
    assert(Files.list(java.nio.file.Paths.get(out)).toArray.map(_.toString)
      .exists(_.contains("Proyecto=Matera")))
    // partition pruning: reading one project touches one partition dir
    val one = back.filter($"Proyecto" === "Matera")
    one.collect()
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(Proyecto"),
      s"expected partition filter in:\n$scan")
  }

  test("S8/S10/S11 JSON + CSV sinks round-trip") {
    val out = Files.createTempDirectory("sink-json").toString
    Writers.recordsJson(units.select("Proyecto", "Numero de inmueble",
      "Precio de lista_num"), out)
    val back = Writers.readJson(spark, out)
    assert(back.count() === 4)
    // null for N/A price survives (missing key in JSON -> null on read)
    assert(back.filter($"`Precio de lista_num`".isNull).count() === 1)

    val csvOut = Files.createTempDirectory("sink-csv").toString
    Writers.csvExport(units.select("Proyecto", "Estado de inmueble"), csvOut)
    val csvBack = spark.read.option("header", "true").csv(csvOut)
    assert(csvBack.count() === 4)
  }

  test("S9 single-document KPI sink") {
    val p = Files.createTempDirectory("sink-kpi").resolve("out/kpis.json")
    Writers.kpisJson("""{"cards": {"unidades_totales": 4}}""", p.toString)
    assert(Files.readString(p).contains("unidades_totales"))
  }

  test("E3 dashboard: filter + search + numeric-preferent sort + paginate") {
    val vs = new ViewServer(units, "units_test")
    try {
      assert(vs.filtered(proyecto = Some("Matera")).count() === 2)
      assert(vs.filtered(estado = Some("Disponible")).count() === 2)
      // any-column search is case-insensitive and spans all columns
      assert(vs.filtered(search = Some("oCuLt")).count() === 1)
      // numeric-preferent sort uses the _num shadow (string sort would
      // put "500,00" before "900,00" before "1.200,50")
      val sorted = vs.sorted(vs.view, "Precio de lista")
        .select("Numero de inmueble").collect().map(_.getString(0))
      assert(sorted === Array("202", "102", "101", "201")) // nulls last
      val page2 = vs.page(vs.view, Seq(col("Numero de inmueble")), 2, 2)
        .collect().map(_.getAs[String]("Numero de inmueble"))
      assert(page2 === Array("201", "202"))
      // SQL surface over the same view
      assert(spark.sql("SELECT count(*) FROM units_test WHERE Proyecto = 'Fenix'")
        .head().getLong(0) === 2L)
    } finally vs.close()
  }

  test("E3 charts: count-by-estado, avg-positive, stacked pct, scatter") {
    val vs = new ViewServer(units, "units_chart")
    try {
      val byEstado = vs.countByEstado(vs.view).collect()
      assert(byEstado.head.getAs[Long]("n") === 2L) // Disponible
      val avg = vs.avgPriceByProyecto(vs.view, "Precio de lista_num")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(avg("Matera") === 1050.25)
      assert(avg("Fenix") === 500.0) // N/A excluded, only positive counted
      val stacked = vs.stackedCounts(vs.view,
        Seq("Disponible", "Vendido", "Oculto"), percent = true).collect()
      val matera = stacked.find(_.getString(0) == "Matera").get
      assert(matera.getAs[Double]("Disponible") === 50.0)
      assert(matera.getAs[Double]("Vendido") === 50.0)
      // scatter excludes non-positive pairs (202 has area 0)
      assert(vs.scatter(vs.view, "Precio de lista_num", "Area total_num")
        .count() === 2)
    } finally vs.close()
  }

  test("E3 SQL surface plans identically to the parameterized operators") {
    val vs = new ViewServer(units, "units_sql")
    def opt(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan
    try {
      // filter: builder spelling vs raw SQL (parameterized, not
      // interpolated) — same optimized plan over the same cached view
      val viaApi = vs.filtered(proyecto = Some("Matera"))
      val viaSql = vs.sql("SELECT * FROM units_sql WHERE Proyecto = ?",
        "Matera")
      assert(opt(viaSql).sameResult(opt(viaApi)),
        s"filter plans diverge:\n${opt(viaApi)}\nvs\n${opt(viaSql)}")
      // chart aggregation: A9 count-by-estado, sorted in one partition
      val aggApi = vs.countByEstado(vs.view)
      val aggSql = vs.sql(
        """SELECT /*+ COALESCE(1) */
             coalesce(`Estado de inmueble`, '__NA__') AS estado,
             count(1) AS n
           FROM units_sql GROUP BY 1 SORT BY n DESC, estado""")
      assert(opt(aggSql).sameResult(opt(aggApi)),
        s"agg plans diverge:\n${opt(aggApi)}\nvs\n${opt(aggSql)}")
      // ... and both read the CACHED snapshot, not the base plan
      Seq(viaApi, viaSql, aggSql).foreach { df =>
        assert(df.queryExecution.withCachedData.toString
          .contains("InMemoryRelation"),
          "SQL surface must serve from the cached snapshot")
      }
      // results agree, not just plans
      assert(viaSql.count() === 2)
      assert(aggSql.collect().map(_.toSeq).toSeq ===
        aggApi.collect().map(_.toSeq).toSeq)
    } finally vs.close()
  }

  test("F17 currency format matches the dashboard's money() rendering") {
    import graft.functions.GraftFunctions.formatCurrency
    // the dashboard's card values (golden kpis.json): Intl es-PE, PEN,
    // maximumFractionDigits 0 -> "S/ 447,489" / "S/ 558,372"; null -> "–"
    val got = Seq[java.lang.Double](447488.57, 558372.0, 1050.25, null).toDF("v")
      .select(formatCurrency($"v").as("fmt")).collect().map(_.getString(0))
    assert(got.toSeq === Seq("S/ 447,489", "S/ 558,372", "S/ 1,050", "–"))
    // NaN renders the placeholder too (the dashboard's isNaN guard)
    val nan = Seq(Double.NaN).toDF("v")
      .select(formatCurrency($"v")).head().getString(0)
    assert(nan === "–")
    // ViewServer display path: numeric originals stay, _fmt shadows added
    val vs = new ViewServer(units, "units_money")
    try {
      val shown = vs.withMoneyFormatted(vs.view, Seq("Precio de lista_num"))
      val m = shown.filter($"`Numero de inmueble`" === "101")
        .select($"`Precio de lista_num_fmt`").head().getString(0)
      assert(m === "S/ 1,201") // 1200.50 rounds half-up, like Intl halfExpand
      assert(shown.columns.contains("Precio de lista_num"))
    } finally vs.close()
  }
}
