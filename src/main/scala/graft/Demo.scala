package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.ingest.RawSheetReader
import graft.pipeline.{Kpi, PriceUpdate}
import graft.sinks.{Writers, XlsxWriter}

/** End-to-end demo main: builds the reference's fixture inputs, runs both
  * pipelines (E1 price-update + audit, E2 KPI export) and writes every
  * sink under one output directory. `sbt "runMain graft.Demo /tmp/out"`.
  */
object Demo {

  val aliasCfg: RawSheetReader.Config = RawSheetReader.Config(
    aliases = Seq(
      "Numero de inmueble" -> Seq("Número de inmueble", "N° inmueble",
        "nombre", "unidad", "codigo"),
      "Precio de lista" -> Seq("precio de lista", "precio", "precio lista"),
      "Estado de inmueble" -> Seq("estado de inmueble", "estado",
        "estado comercial"),
      "Tipologia" -> Seq("Tipología", "tipologia")),
    ensure = Seq("Numero de inmueble", "Precio de lista",
      "Estado de inmueble", "Tipologia"))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-demo")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // fixture inputs (FIXTURES.md variants: preamble, aliases, dup headers)
    val fixtures = Files.createTempDirectory("demo-fixtures")
    def write(name: String, lines: Seq[String]): String = {
      val p = fixtures.resolve(name)
      Files.write(p, String.join("\n", lines: _*).getBytes("UTF-8"))
      p.toString
    }
    val matera = write("matera.csv", Seq(
      "LISTA DE PRECIOS,,,", ",,,",
      "Número de inmueble,Precio de lista,Estado de inmueble,Tipología",
      "101.0,\"1.200.000,50\",Disponible (Visible),A-301",
      "102,\"950,000.00\",No Disponible (Vendido),B-102",
      "103,N/A,Disponible (Oculto),C-9"))
    val capadocia = write("capadocia.csv", Seq(
      "unidad,precio,estado,Tipología,Piso",
      "A101,\"2.000.000,00\",Disponible,A-1,1",
      "102,\"1.500.000,00\",Disponible,B-2,2"))

    val sheets = Seq(
      RawSheetReader.readSheet(spark, matera, "Matera", aliasCfg),
      RawSheetReader.readSheet(spark, capadocia, "Capadocia", aliasCfg))
    val sperant = Seq(
      ("Matera", "A101", 1500000.0, "vendido", "2024-02-01 00:00:00", 1L),
      ("Capadocia", "B102", 1550000.0, "vendido", "2024-01-21 00:00:00", 2L),
      ("Urbanzen", "1", 100.0, "disponible", "2024-01-01 00:00:00", 3L)
    ).toDF("nombre_proyecto", "nombre", "precio_lista", "estado_comercial",
      "fecha_actualizacion", "_row")

    // E1 — price update + audit, all sinks
    val r = PriceUpdate.run(sheets, sperant)
    Writers.perProject(r.updated,
      Seq("Proyecto", "Numero de inmueble", "Precio de lista",
        "Estado de inmueble"), s"$outDir/tablas_actualizadas")
    Writers.auditWorkbook(r.resumen, r.soloEnNexo, r.soloEnSperant,
      s"$outDir/auditoria")
    Writers.changedDetail(r.detalle, s"$outDir/auditoria/detalle")
    // the REAL Excel artifacts the reference ships (ref `:483-487`,
    // `:399-406`) — native xlsx emission, re-readable by XlsxSheetReader
    XlsxWriter.auditWorkbookXlsx(r.resumen, r.soloEnNexo, r.soloEnSperant,
      s"$outDir/Resumen_cambios_precios.xlsx")
    XlsxWriter.perProjectXlsx(r.updated, "Proyecto",
      s"$outDir/tablas_actualizadas_xlsx")

    // E2 — KPI export from the updated table
    val kpiInput = r.updated
      .withColumnRenamed("Precio de lista", "Precio de lista_num")
    val json = Kpi.toJson(kpiInput, "Precio de lista_num",
      "Estado de inmueble", java.time.Instant.now().toString)
    Writers.kpisJson(json, s"$outDir/kpis.json")
    Writers.recordsJson(kpiInput.select($"Proyecto", $"Numero de inmueble",
      $"Precio de lista_num", $"Estado de inmueble"), s"$outDir/records")

    // North-star drive — training-data curation over the documents table:
    // LSH-representative dedup -> lang/quality filter -> stats, written
    // partitioned by language (the sharded-corpus layout). The corpus dir
    // is the optional second argument; skipped cleanly when absent so the
    // demo stays self-contained on machines without the testdata.
    val docsPath = args.lift(1)
      .getOrElse("/root/testdata/sf0.001") + "/documents.parquet"
    if (new java.io.File(docsPath).exists()) {
      val docs = spark.read.parquet(docsPath).select("doc_id", "text")
      val cur = graft.pipeline.Curation.run(docs, "doc_id", "text",
        graft.pipeline.Curation.Config(languages = Seq("en", "es", "und"),
          minQuality = 0.3))
      // written AND aggregated below
      val curated = graft.operators.Checkpoints.pin(cur.curated)
      try {
        curated.select("doc_id", "lang", "quality", "n_tokens", "text")
          .write.mode("overwrite").partitionBy("lang")
          .parquet(s"$outDir/curated_corpus")
        println(s"[demo] curation stats (${docs.count()} docs in):")
        // stats from the PINNED frame: cur.stats was planned before
        // the pin and would recompute the whole curation pipeline
        graft.pipeline.Curation.statsOf(curated).show(truncate = false)
      } finally graft.operators.Checkpoints.release(curated)
    } else println(s"[demo] no corpus at $docsPath — curation drive skipped")

    println(s"[demo] resumen:")
    r.resumen.show(truncate = false)
    r.close() // the last reader of the price-update pin has run
    println(s"[demo] kpis: $json")
    println(s"[demo] outputs under $outDir:")
    Files.walk(Paths.get(outDir)).filter(Files.isRegularFile(_))
      .limit(20).forEach(p => println(s"  $p"))
    spark.stop()
  }
}
