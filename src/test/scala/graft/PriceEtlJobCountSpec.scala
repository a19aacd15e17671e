package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Shim
import graft.ingest.RawSheetReader
import graft.pipeline.{Kpi, PriceUpdate}
import graft.sinks.{Writers, XlsxWriter}

/** One run of the reference's job — `PriceUpdate.run` and the five
  * sinks `perfbench`'s `price_etl` calls — launches a small number of
  * Spark jobs in every fresh session: the price update is computed once,
  * into one pin that every sink reads, the per-project workbooks take
  * one ordered pass and `kpis.json` one aggregate. */
class PriceEtlJobCountSpec extends SparkTestBase {

  private val Projects = Seq("Residencial Alba", "Residencial Bosque",
    "Residencial Cedro")
  private val Estados = Seq("Disponible", "Vendido", "Separado")

  /** Seeded price lists of 3 projects, `units` rows each under a header
    * row (one partition per core, as a driver-decoded sheet is), and a
    * Sperant extract that matches about 3 units in 4, some with a new
    * price or estado. */
  private def inputs(s: SparkSession, units: Int): (Seq[DataFrame], DataFrame) = {
    val rnd = new scala.util.Random(11)
    val header = Array("Numero de inmueble", "Precio de lista",
      "Estado de inmueble", "Tipologia")
    val cfg = RawSheetReader.Config(aliases = header.toSeq.map(_ -> Nil))
    val sperant = Seq.newBuilder[(String, String, Double, String, String, Long)]
    val sheets = Projects.map { p =>
      val rows = (1 to units).map { k =>
        val price = 100000 + rnd.nextInt(900000)
        val estado = Estados(rnd.nextInt(Estados.size))
        if (rnd.nextInt(4) > 0) sperant += ((p, k.toString,
          price + 1000.0 * rnd.nextInt(2), Estados(rnd.nextInt(Estados.size)),
          s"2024-03-0${1 + rnd.nextInt(9)} 08:00:00", k.toLong))
        Array(k.toString, s"$price,00", estado, s"T-${k % 7}")
      }
      RawSheetReader.fromGrid(s, header +: rows, s"$p.xls", p, cfg)
    }
    val sp = s.createDataFrame(sperant.result()).toDF("nombre_proyecto",
      "nombre", "precio_lista", "estado_comercial", "fecha_actualizacion",
      "_row")
    (sheets, sp)
  }

  test("a price_etl run launches at most 40 jobs in 3 fresh sessions") {
    val sc = spark.sparkContext
    val runs = (1 to 3).map { i =>
      val s = spark.newSession()
      val (sheets, sperant) = inputs(s, 1500)
      val out = Files.createTempDirectory("graft-etl-jobs")
      val group = s"graft-etl-jobs-$i"
      sc.setJobGroup(group, "price_etl run, cold")
      val json = try {
        val r = PriceUpdate.run(sheets, sperant)
        XlsxWriter.perProjectXlsx(r.updated, "Proyecto",
          out.resolve("tablas_actualizadas").toString)
        XlsxWriter.auditWorkbookXlsx(r.resumen, r.soloEnNexo, r.soloEnSperant,
          out.resolve("Resumen_cambios_precios.xlsx").toString)
        Writers.changedDetail(r.detalle, out.resolve("detalle").toString)
        val json = Kpi.toJson(
          r.updated.withColumnRenamed("Precio de lista", "Precio de lista_num"),
          "Precio de lista_num", "Estado de inmueble", "2024-03-01T00:00:00Z")
        Writers.kpisJson(json, out.resolve("kpis.json").toString)
        json
      } finally sc.clearJobGroup()
      Shim.drainListeners(sc)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (sc.statusTracker.getJobIdsForGroup(group).length, json)
    }
    assert(runs.map(_._2).distinct.size === 1, "kpis.json changed")
    assert(runs.head._2.contains("\"unidades_totales\": 4500"))
    val counts = runs.map(_._1)
    info("job counts: " + counts.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (n, xs) => s"$n x${xs.size}" }.mkString(", "))
    assert(counts.forall(_ <= 40), s"job counts: $counts")
  }
}
