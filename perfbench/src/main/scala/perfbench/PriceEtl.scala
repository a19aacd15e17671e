package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.ZipFile
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.types._
import graft.ingest.{RawSheetReader, XlsSheetReader}
import graft.pipeline.{Kpi, PriceUpdate}
import graft.sinks.{Writers, XlsxWriter}

/** `price_etl`: the reference's own job as one operation — every price
  * list decoded, the Sperant join and audit, one workbook per project, the
  * audit workbook, the changed-row detail and `kpis.json`. */
object PriceEtl extends Workload {
  val name = "price_etl"

  val Projects = 3
  val Units = 4500
  /** The set-up takes well under a second, so more repeats than the other
    * workloads' go into its median. */
  val SetupRepeats = 15

  /** The reference's header aliases (`Actualizar_Precios_de_Nexo.py:55-65`). */
  val AliasCfg: RawSheetReader.Config = RawSheetReader.Config(
    aliases = Seq(
      "Numero de inmueble" -> Seq("Número de inmueble", "N° inmueble",
        "nombre", "unidad", "codigo"),
      "Precio de lista" -> Seq("precio de lista", "precio", "precio lista"),
      "Estado de inmueble" -> Seq("estado de inmueble", "estado",
        "estado comercial"),
      "Tipologia" -> Seq("Tipología", "tipologia")),
    ensure = Seq("Numero de inmueble", "Precio de lista",
      "Estado de inmueble", "Tipologia"))

  private val SperantSchema = StructType(Seq(
    StructField("nombre_proyecto", StringType),
    StructField("nombre", StringType),
    StructField("precio_lista", DoubleType),
    StructField("estado_comercial", StringType),
    StructField("fecha_actualizacion", TimestampType),
    StructField("_row", LongType)))

  private def runOnce(ctx: Ctx, in: EtlData.Inputs, out: Path): Unit = {
    val spark = ctx.spark
    val sheets = ctx.span("XlsSheetReader.readSheet", "ingest") {
      in.files.map { case (p, proy) =>
        XlsSheetReader.readSheet(spark, p.toString, proy, AliasCfg)
      }
    }
    val sperant = ctx.span("sperant.csv", "ingest") {
      spark.read.schema(SperantSchema).option("header", "true")
        .csv(in.sperant.toString)
    }
    val r = ctx.span("PriceUpdate.run", "pipeline") {
      PriceUpdate.run(sheets, sperant)
    }
    ctx.span("XlsxWriter.perProjectXlsx", "sinks") {
      XlsxWriter.perProjectXlsx(r.updated, "Proyecto",
        out.resolve("tablas_actualizadas").toString)
    }
    ctx.span("XlsxWriter.auditWorkbookXlsx", "sinks") {
      XlsxWriter.auditWorkbookXlsx(r.resumen, r.soloEnNexo, r.soloEnSperant,
        out.resolve("Resumen_cambios_precios.xlsx").toString)
    }
    ctx.span("Writers.changedDetail", "sinks") {
      Writers.changedDetail(r.detalle, out.resolve("detalle").toString)
    }
    val kpiInput = r.updated
      .withColumnRenamed("Precio de lista", "Precio de lista_num")
    val json = ctx.span("Kpi.toJson", "pipeline") {
      Kpi.toJson(kpiInput, "Precio de lista_num", "Estado de inmueble",
        "2024-03-01T00:00:00Z")
    }
    ctx.span("Writers.kpisJson", "sinks") {
      Writers.kpisJson(json, out.resolve("kpis.json").toString)
    }
  }

  /** Cell text of the first sheet of an xlsx the engine wrote, by row. */
  private def xlsxRows(path: Path): Seq[Map[String, String]] = {
    val z = new ZipFile(path.toFile)
    val xml = try new String(z.getInputStream(
      z.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
    finally z.close()
    val rowRe = "(?s)<row[^>]*>(.*?)</row>".r
    val cellRe = "(?s)<c r=\"([A-Z]+)\\d+\"[^>]*?(?:/>|>(.*?)</c>)".r
    val textRe = "(?s)<(?:v|t)[^>]*>(.*?)</(?:v|t)>".r
    def unescape(s: String) = s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'").replace("&amp;", "&")
    val rows = rowRe.findAllMatchIn(xml).map { r =>
      cellRe.findAllMatchIn(r.group(1)).map { c =>
        c.group(1) -> Option(c.group(2)).flatMap(textRe.findFirstMatchIn)
          .map(m => unescape(m.group(1))).orNull
      }.toMap
    }.toSeq
    val header = rows.head
    rows.tail.map(r => header.map { case (ref, h) => h -> r.getOrElse(ref, null) })
  }

  /** Mismatches between the run's outputs and what the generator planted. */
  private def check(in: EtlData.Inputs, out: Path): Seq[String] = {
    val resumen = xlsxRows(out.resolve("Resumen_cambios_precios.xlsx"))
      .map(r => r("Proyecto") -> r).toMap
    val perProject = in.planted.toSeq.sortBy(_._1).flatMap { case (p, want) =>
      resumen.get(p) match {
        case None => Seq(s"resumen has no row for $p")
        case Some(r) =>
          Seq("Registros" -> want.registros, "Con_Match" -> want.conMatch,
            "Cambios_Precio" -> want.cambiosPrecio,
            "Cambios_Estado" -> want.cambiosEstado).collect {
            case (c, v) if Try(r(c).toDouble.toLong).toOption != Some(v) =>
              s"$p $c: got ${r(c)}, planted $v"
          }
      }
    }
    val kpis = Files.readString(out.resolve("kpis.json"))
    val units = "\"unidades_totales\":\\s*(\\d+)".r.findFirstMatchIn(kpis)
      .map(_.group(1).toLong)
    val workbooks = Option(out.resolve("tablas_actualizadas").toFile.list())
      .map(_.count(_.endsWith(".xlsx"))).getOrElse(0)
    perProject ++
      (if (units.contains(in.units)) Nil
       else Seq(s"kpis.json unidades_totales $units, planted ${in.units}")) ++
      (if (workbooks == in.files.size) Nil
       else Seq(s"$workbooks project workbooks for ${in.files.size} projects"))
  }

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val inDir = ctx.work.resolve("etl-in")
    val out = ctx.work.resolve("etl-out")
    var in: EtlData.Inputs = null
    val setups = (1 to SetupRepeats).map { _ =>
      Workload.deleteTree(inDir)
      System.gc() // the last set-up's garbage is collected untimed
      Workload.timeS { in = EtlData.write(inDir, ctx.seed, Projects, Units) }
    }
    Workload.log(s"price_etl set-up: ${setups.mkString(", ")} s")
    // exactly one timed run per JVM, cold, as the batch job runs: a second
    // run would be warm, so a count that followed the window would change
    // what the figure measures whenever the program's speed crossed it
    Workload.deleteTree(out)
    System.gc()
    var error: Option[Throwable] = None
    val span = ctx.op("price_etl.run") {
      Try(runOnce(ctx, in, out)) match {
        case Failure(e) => error = Some(e)
        case Success(_) =>
      }
    }
    Workload.log(f"price_etl run: ${span.seconds}%.2f s (" +
      ctx.trace.allSpans.filter(_.parent == span.id)
        .map(c => f"${c.name} ${c.seconds}%.2f").mkString(", ") + ")")
    val pinned = ctx.pinnedMb
    val problems = error match {
      case Some(e) => Seq(s"run failed: $e")
      case None => Try(check(in, out)).fold(e => Seq(s"check failed: $e"), identity)
    }
    val runs = if (problems.isEmpty) Seq(span) else Nil
    val e2e = Workload.endToEnd(setups, runs.map(_.seconds), 1L - runs.size,
      seconds, runs)
    val layers =
      if (!ctx.trace.full || runs.isEmpty) Map.empty[String, Double]
      else {
        ctx.trace.drain()
        val spans = ctx.trace.subtree(span)
        def layerS(layer: String) = spans.filter(_.layer == layer).map(_.seconds).sum
        def callS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
        val decode = layerS("ingest")
        Map(
          "ingest.decode_s" -> decode,
          "ingest.mb_per_s" -> in.xlsBytes / 1e6 / decode,
          "pipeline.plan_s" -> callS("PriceUpdate.run"),
          "pipeline.kpi_s" -> callS("Kpi.toJson"),
          "sinks.write_s" -> layerS("sinks"),
          "sinks.jobs" -> spans.filter(_.layer == "sinks")
            .map(ctx.trace.jobCount).sum.toDouble,
          "sinks.mb_written" -> Workload.treeBytes(out) / 1e6
        ) ++ Workload.sparkLayers(ctx, Seq(runs), Seq(pinned))
      }
    Outcome(1, 1L - runs.size, e2e, layers, problems.take(5), runs)
  }
}
