package graft

import java.nio.file.{Files, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import graft.ingest.RawSheetReader
import graft.sources.RawSheetSource

/** The DataSource V2 rawsheet provider and `RawSheetReader.fromGrid`:
  * row-for-row parity with `RawSheetReader.readSheet` on every fixture
  * shape (preamble, aliases, duplicate columns, missing ensure targets,
  * case-variant headers, a sheet's own `Proyecto`/`_file_row`, and the
  * error for a sheet with no header row), plus the V2 payoff — column
  * pruning reaching the scan. */
class RawSheetSourceSpec extends SparkTestBase {

  private val cfg = RawSheetReader.Config(
    aliases = Seq(
      "Numero de inmueble" -> Seq("número de inmueble", "numero de inmueble",
        "unidad", "codigo"),
      "Precio de lista" -> Seq("precio de lista", "precio", "precio lista"),
      "Estado de inmueble" -> Seq("estado de inmueble", "estado",
        "estado comercial"),
      "Tipologia" -> Seq("Tipología", "tipologia")),
    ensure = Seq("Numero de inmueble", "Precio de lista", "Estado de inmueble",
      "Tipologia"))

  private lazy val dir = Files.createTempDirectory("rawsheet-v2")
  private def fixture(name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, String.join("\n", lines: _*).getBytes("UTF-8"))
    p.toString
  }

  private def v2(path: String, proyecto: String): DataFrame =
    spark.read.format("graft.sources.RawSheetDataSource")
      .options(RawSheetSource.options(cfg, proyecto))
      .load(path)

  private def assertSameFrame(got: DataFrame, expected: DataFrame,
                              reader: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      expected.schema.map(f => (f.name, f.dataType)), s"$reader schema")
    assert(got.exceptAll(expected).count() === 0L, s"$reader-only rows")
    assert(expected.exceptAll(got).count() === 0L, s"rdd-only rows ($reader)")
  }

  /** The fixture's text lines, gunzipped for a `.gz` file. */
  private def sheetLines(path: String): Seq[String] =
    if (!path.endsWith(".gz")) Files.readAllLines(Paths.get(path)).asScala.toSeq
    else {
      val in = new GZIPInputStream(Files.newInputStream(Paths.get(path)))
      try new String(in.readAllBytes(), "UTF-8").split("\n", -1).toSeq
      finally in.close()
    }

  /** The CSV reader, the DSv2 source and `fromGrid` over the fixture's
    * split lines return the same frame, or fail with the same
    * `IllegalArgumentException` message. */
  private def assertParity(path: String, proyecto: String): Unit = {
    def attempt(read: => DataFrame): Either[String, DataFrame] =
      try Right(read)
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    val grid = sheetLines(path).map(RawSheetReader.splitCsvLine)
    (attempt(RawSheetReader.readSheet(spark, path, proyecto, cfg)),
      attempt(v2(path, proyecto)),
      attempt(RawSheetReader.fromGrid(spark, grid, path, proyecto, cfg))) match {
      case (Right(expected), Right(got), Right(fromGrid)) =>
        assertSameFrame(got, expected, "v2")
        assertSameFrame(fromGrid, expected, "fromGrid")
      case (Left(expected), Left(got), Left(fromGrid)) =>
        assert(got === expected, "v2 error")
        assert(fromGrid === expected, "fromGrid error")
      case other => fail(s"readers disagree: $other")
    }
  }

  test("parity: junk preamble + accented canonical headers") {
    assertParity(fixture("matera.csv", Seq(
      "LISTA DE PRECIOS,,,",
      ",,,",
      "Número de inmueble,Precio de lista,Estado de inmueble,Tipología",
      "101.0,\"1.200.000,50\",Disponible (Visible),A-301",
      "102,\"950,000.00\",No Disponible (Vendido),B-102",
      "103,N/A,Disponible (Oculto),C-9")), "Matera")
  }

  test("parity: aliased headers, extra column, missing ensure target") {
    assertParity(fixture("capadocia.csv", Seq(
      "unidad,precio,estado,Tipología,Piso",
      "A101,\"2.000.000,00\",Disponible,A-1,1",
      "102,\"1.500.000,00\",Disponible,B-2,2")), "Capadocia")
  }

  test("parity: duplicate price column collapses first-non-null") {
    val p = fixture("fenix.csv", Seq(
      "Número de inmueble,Precio de lista,Precio de lista",
      "201,,\"500.000,00\"",
      "202,\"600.000,00\",\"999.999,99\""))
    assertParity(p, "Fenix")
    // the collapse itself: row 201 takes the second cell
    val r = v2(p, "Fenix").filter(org.apache.spark.sql.functions
      .col("Numero de inmueble") === "201").head()
    assert(r.getAs[String]("Precio de lista") === "500.000,00")
  }

  test("parity: case-variant headers rename only the exact alias") {
    val p = fixture("casevariant.csv", Seq(
      "Número de inmueble,Precio,precio,x",
      "101,\"1.000,00\",\"2.000,00\",a",
      "102,,\"3.000,00\",b"))
    assertParity(p, "Caso")
    val df = v2(p, "Caso")
    assert(df.columns.toSeq === Seq("_file_row", "Numero de inmueble",
      "Precio", "Precio de lista", "x", "Estado de inmueble", "Tipologia",
      "Proyecto"))
    val r = df.orderBy("_file_row").head()
    assert(r.getString(2) === "1.000,00")
    assert(r.getString(3) === "2.000,00")
  }

  test("parity: a sheet's own Proyecto keeps its slot, its _file_row is " +
    "dropped") {
    val p = fixture("reserved.csv", Seq(
      "Número de inmueble,Proyecto,_file_row,Precio de lista",
      "101,Otro,7,\"1.000,00\"",
      "102,,8,\"2.000,00\""))
    assertParity(p, "Reservado")
    val df = v2(p, "Reservado")
    assert(df.columns.toSeq === Seq("_file_row", "Numero de inmueble",
      "Proyecto", "Precio de lista", "Estado de inmueble", "Tipologia"))
    val rows = df.orderBy("_file_row").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L), "line ordinals")
    assert(rows.map(_.getString(2)).toSeq === Seq("Reservado", "Reservado"))
  }

  test("parity: a sheet shorter than the fallback row fails alike") {
    val p = fixture("short.csv", Seq(
      "LISTA DE PRECIOS,,",
      "sin,cabecera,conocida",
      "1,2,3"))
    assertParity(p, "Corto")
    val e = intercept[IllegalArgumentException](v2(p, "Corto"))
    assert(e.getMessage === s"$p: header row 4 not found in first 15 rows")
  }

  test("parity: a gzipped sheet decompresses in every reader") {
    val p = dir.resolve("gz.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(p))
    try out.write("unidad,precio\n101,5".getBytes("UTF-8")) finally out.close()
    assertParity(p.toString, "P")
    val r = v2(p.toString, "P")
      .select("_file_row", "Numero de inmueble", "Precio de lista", "Proyecto")
      .collect().map(_.toSeq)
    assert(r.toSeq === Seq(Seq(1L, "101", "5", "P")))
  }

  test("parity: nested duplicate groups reach one column") {
    // the raw Piso,Piso,Piso_2 cleans to Piso,Piso_2,Piso_2_2
    val p = fixture("nested.csv", Seq(
      "Número de inmueble,Piso,Piso,Piso_2",
      "101,,,7",
      "102,,3,9",
      "103,1,2,3"))
    assertParity(p, "Anidado")
    val df = v2(p, "Anidado")
    assert(df.columns.toSeq === Seq("_file_row", "Numero de inmueble", "Piso",
      "Precio de lista", "Estado de inmueble", "Tipologia", "Proyecto"))
    assert(df.orderBy("_file_row").collect().map(_.getAs[String]("Piso"))
      .toSeq === Seq("7", "3", "1"))
  }

  test("a Proyecto-mismatch filter skips the whole file at planning") {
    val p = fixture("skip.csv", Seq(
      "Número de inmueble,Precio de lista,Estado de inmueble,Tipología",
      "101,\"1.000,00\",Disponible,A-1"))
    val df = v2(p, "Matera")
    // match: rows flow, filter handled by the pushed literal
    assert(df.filter(org.apache.spark.sql.functions.col("Proyecto")
      === "Matera").count() === 1)
    // mismatch: zero partitions planned — the file is never opened
    val miss = df.filter(org.apache.spark.sql.functions.col("Proyecto")
      === "Otro")
    assert(miss.count() === 0)
    assert(miss.queryExecution.executedPlan.toString
      .contains("file-skipped"),
      s"mismatch must skip at the scan:\n${miss.queryExecution.executedPlan}")
  }

  test("column pruning reaches the scan") {
    val p = fixture("prune.csv", Seq(
      "Número de inmueble,Precio de lista,Estado de inmueble,Tipología",
      "101,\"1.000,00\",Disponible,A-1"))
    val pruned = v2(p, "X").select("Proyecto", "Precio de lista")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(scan.output.map(_.name).toSet === Set("Proyecto", "Precio de lista"),
      s"scan must emit only required columns, got ${scan.output}")
    assert(pruned.head().getString(0) === "X")
    assert(pruned.head().getString(1) === "1.000,00")
  }
}
