package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Shim
import graft.ingest.{RawSheetReader, XlsSheetReader, XlsxSheetReader}
import graft.ingest.RawSheetReader.{Config, Layout, OutCol}
import graft.sinks.{XlsWriter, XlsxWriter}

/** `RawSheetReader.Layout.resolve`, the one header decision of every
  * tolerant reader, and the driver-grid readers built on it: a sheet
  * decoded on the driver becomes a frame with no Spark job. */
class SheetLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = Config(
    aliases = Seq(
      "Numero de inmueble" -> Seq("unidad"),
      "Precio de lista" -> Seq("precio", "precio lista")),
    ensure = Seq("Numero de inmueble", "Precio de lista", "Estado"))

  private def resolve(rows: Seq[String]*): Layout =
    Layout.resolve(rows.map(_.toArray), "t.csv", cfg)

  private def cols(l: Layout): Seq[(String, Seq[Int])] =
    l.cols.map { case OutCol(n, c) => (n, c) }

  test("the first alias present wins, only when the canonical name is " +
    "absent") {
    assert(cols(resolve(Seq("precio lista", "precio"))).take(2) ===
      Seq("precio lista" -> Seq(0), "Precio de lista" -> Seq(1)))
    assert(cols(resolve(Seq("Precio de lista", "precio"))).take(2) ===
      Seq("Precio de lista" -> Seq(0), "precio" -> Seq(1)))
  }

  test("only the first maxHeaderScan rows are scanned for the header") {
    val junk = Seq.tabulate(15)(i => Seq(s"junk $i"))
    val l = resolve(junk :+ Seq("unidad"): _*)
    assert(l.headerRow === 4, "fallback row, not the alias at row 15")
    assert(l.cols.head === OutCol("junk 4", Seq(0)))
  }

  test("a duplicate group collapses at the base's slot, members in suffix " +
    "string order") {
    val l = resolve(Seq("Precio de lista", "x", "Precio de lista_10",
      "Precio de lista_2", "Precio de lista"))
    // the cleaned names: base, x, base_10, base_2, base_3
    assert(cols(l).take(2) === Seq("Precio de lista" -> Seq(0, 2, 3, 4),
      "x" -> Seq(1)))
  }

  test("nested duplicate groups collapse at the outermost base, so every " +
    "header cell reaches exactly one column") {
    // a_1 is a member of a, and a_1_2 of a_1: all three fold into a
    val nested = resolve(Seq("unidad", "a", "a_1", "a_1_2"))
    assert(cols(nested).take(2) ===
      Seq("Numero de inmueble" -> Seq(0), "a" -> Seq(1, 2, 3)))
    // cleanHeaders makes that shape itself from the raw a,a,a_2
    assert(RawSheetReader.cleanHeaders(Seq("a", "a", "a_2")) ===
      Seq("a", "a_2", "a_2_2"))
    val cleaned = resolve(Seq("unidad", "a", "a", "a_2"))
    assert(cols(cleaned).take(2) ===
      Seq("Numero de inmueble" -> Seq(0), "a" -> Seq(1, 2, 3)))
    Seq(nested, cleaned).foreach { l =>
      assert(l.cols.flatMap(_.cells).sorted === Seq(0, 1, 2, 3), l)
    }
    // a suffixed name whose base is absent stays its own column, and its
    // own duplicates join it
    assert(cols(resolve(Seq("unidad", "b_1", "b_1_2"))).take(2) ===
      Seq("Numero de inmueble" -> Seq(0), "b_1" -> Seq(1, 2)))
  }

  test("the Proyecto literal stays in the plan: a mismatch folds to an " +
    "empty relation") {
    val df = RawSheetReader.fromGrid(spark,
      Seq(Array("unidad", "precio"), Array("101", "1,00")), "t.xls", "P", cfg)
    val miss = df.filter($"Proyecto" === "Q")
    assert(miss.queryExecution.optimizedPlan.toString
      .contains("LocalRelation"), miss.queryExecution.optimizedPlan)
    assert(df.filter($"Proyecto" === "P").count() === 1)
  }

  /** Spark jobs launched by `f` alone (listener-counted). */
  private def jobsOf(f: => DataFrame): (Int, DataFrame) = {
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
      val df = f
      Shim.drainListeners(sc)
      (jobs.get(), df)
    } finally sc.removeSparkListener(l)
  }

  test("driver-grid readers launch no Spark job before the first action") {
    val dir = Files.createTempDirectory("sheet-layout")
    val units = Seq(("101", "1.000,00"), ("102", "2.000,00"))
      .toDF("Numero de inmueble", "Precio de lista")
    val xls = dir.resolve("p.xls").toString
    val xlsx = dir.resolve("p.xlsx").toString
    XlsWriter.writeWorkbook(xls, Seq("P" -> units))
    XlsxWriter.writeWorkbook(xlsx, Seq("P" -> units))
    val grid = Seq(Array("Numero de inmueble", "Precio de lista"),
      Array("101", "1.000,00"), Array("102", "2.000,00"))
    val readers = Seq[(String, () => DataFrame)](
      "XlsSheetReader.readSheet" -> (() =>
        XlsSheetReader.readSheet(spark, xls, "P", cfg)),
      "XlsxSheetReader.readSheet" -> (() =>
        XlsxSheetReader.readSheet(spark, xlsx, "P", cfg)),
      "RawSheetReader.fromGrid" -> (() =>
        RawSheetReader.fromGrid(spark, grid, "p.xls", "P", cfg)))
    readers.foreach { case (name, read) =>
      val (n, df) = jobsOf(read())
      assert(n === 0, s"$name launched $n job(s)")
      assert(df.select("Numero de inmueble", "Precio de lista", "Proyecto")
        .as[(String, String, String)].collect().toSeq.sorted ===
        Seq(("101", "1.000,00", "P"), ("102", "2.000,00", "P")), name)
    }
  }
}
