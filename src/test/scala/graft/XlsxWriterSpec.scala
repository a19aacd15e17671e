package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.ingest.XlsxSheetReader
import graft.sinks.XlsxWriter

/** The write edge of the Excel round-trip: workbooks emitted by
  * [[XlsxWriter]] must re-read cell-exactly through the native
  * [[XlsxSheetReader]] — including the reference's REAL 1,961-row CRM
  * workbook pushed through write-then-reread — and the audit/
  * per-project shapes must match `Actualizar_Precios_de_Nexo.py`'s
  * `ExcelWriter` layout (`:483-487`, `:399-406`). */
class XlsxWriterSpec extends SparkTestBase {

  private def tmp(name: String): String =
    Files.createTempDirectory("xlsxw").resolve(name).toString

  test("column refs invert the reader's colIndex") {
    Seq(0, 1, 25, 26, 27, 51, 52, 701, 702, 16383).foreach { i =>
      assert(XlsxSheetReader.colIndex(XlsxWriter.colRef(i)) === i,
        s"colRef/colIndex must invert at $i (${XlsxWriter.colRef(i)})")
    }
  }

  test("typed cells round-trip: numbers, booleans, nulls, hostile strings") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("b", BooleanType), StructField("dec", DecimalType(10, 4))))
    val rows = Seq(
      Row("canción & <tag> \"q\"", 7, 9000000000L, 1234.5,
        true, new java.math.BigDecimal("12.3400")),
      Row("  leading and trailing  ", null, null, 0.1, false,
        new java.math.BigDecimal("5.0000")),
      Row(null, -3, 0L, -2.0, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val path = tmp("typed.xlsx")
    XlsxWriter.writeWorkbook(path, Seq("datos" -> df))

    val grid = XlsxSheetReader.readGrid(path)
    assert(grid.head.toSeq === Seq("s", "i", "l", "d", "b", "dec"))
    assert(grid.length === 4)
    assert(grid(1).toSeq === Seq("canción & <tag> \"q\"", "7",
      "9000000000", "1234.5", "1", "12.34"))
    assert(grid(2).toSeq === Seq("  leading and trailing  ", null, null,
      "0.1", "0", "5"))
    // trailing all-null cells: width padding supplies the nulls
    assert(grid(3).toSeq === Seq(null, "-3", "0", "-2", null, null))
  }

  test("deterministic bytes and multi-sheet tab order") {
    import spark.implicits._
    val a = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val b = Seq((3.5, "z")).toDF("m", "w")
    val p1 = tmp("one.xlsx"); val p2 = tmp("two.xlsx")
    XlsxWriter.writeWorkbook(p1, Seq("First" -> a, "Second" -> b))
    XlsxWriter.writeWorkbook(p2, Seq("First" -> a, "Second" -> b))
    assert(java.util.Arrays.equals(
      Files.readAllBytes(java.nio.file.Paths.get(p1)),
      Files.readAllBytes(java.nio.file.Paths.get(p2))),
      "same data must produce byte-identical workbooks")
    assert(XlsxSheetReader.sheetNames(p1) === Seq("First", "Second"))
    assert(XlsxSheetReader.readGrid(p1, Some("Second"))(1).toSeq
      === Seq("3.5", "z"))
  }

  test("sheet-name sanitization and row-cap guard") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("k", "v")
    assert(XlsxWriter.safeSheetName("Precios [2024]: a/b\\c*?") ===
      "Precios 2024 abc")
    assert(XlsxWriter.safeSheetName("x" * 40).length === 31)
    assert(XlsxWriter.safeSheetName("///") === "Sheet")
    val big = spark.range(10).selectExpr("id", "'v' AS v")
    intercept[IllegalArgumentException] {
      XlsxWriter.writeWorkbook(tmp("cap.xlsx"), Seq("s" -> big), maxRows = 5)
    }
  }

  test("audit workbook reproduces the reference's three-sheet layout") {
    import spark.implicits._
    val resumen = Seq(("Matera", 10L, 3L), ("Quilca", 5L, 0L))
      .toDF("Proyecto", "unidades", "cambios")
    val soloNexo = Seq("P1").toDF("Proyecto_solo_df_total")
    val soloSperant = Seq.empty[String].toDF("Proyecto_solo_df_sperant")
    val path = tmp("resumen.xlsx")
    XlsxWriter.auditWorkbookXlsx(resumen, soloNexo, soloSperant, path)
    assert(XlsxSheetReader.sheetNames(path) ===
      Seq("Resumen", "Solo_en_df_total", "Solo_en_sperant"))
    val g = XlsxSheetReader.readGrid(path, Some("Resumen"))
    assert(g.head.toSeq === Seq("Proyecto", "unidades", "cambios"))
    assert(g(1).toSeq === Seq("Matera", "10", "3"))
    // an empty sheet still carries its header row
    assert(XlsxSheetReader.readGrid(path, Some("Solo_en_sperant"))
      .map(_.toSeq) === Seq(Seq("Proyecto_solo_df_sperant")))
  }

  test("per-project workbooks mirror the reference's one-file-per-project dump") {
    import spark.implicits._
    val df = Seq(("Matera/2", "A-101", 1000.0), ("Matera/2", "A-102", 1100.0),
      ("Quilca", "B-201", 900.0)).toDF("Proyecto", "unidad", "precio")
    val dir = Files.createTempDirectory("xlsxw-pp").toString
    val pairs = XlsxWriter.perProjectXlsx(df, "Proyecto", dir)
    assert(pairs.map(_._1) === Seq("Matera/2", "Quilca"))
    val paths = pairs.map(_._2)
    assert(paths.map(p => p.substring(p.lastIndexOf('/') + 1)) ===
      Seq("Precios_Matera2.xlsx", "Precios_Quilca.xlsx"))
    val g = XlsxSheetReader.readGrid(paths.head)
    assert(g.map(_.toSeq) === Seq(
      Seq("Proyecto", "unidad", "precio"),
      Seq("Matera/2", "A-101", "1000"),
      Seq("Matera/2", "A-102", "1100")))
  }

  test("perProjectXlsx over maxProjects fails before writing a workbook") {
    import spark.implicits._
    val df = Seq(("Matera", "A-101"), ("Quilca", "B-201"))
      .toDF("Proyecto", "unidad")
    val dir = Files.createTempDirectory("xlsxw-cap").resolve("out")
    val e = intercept[IllegalArgumentException] {
      XlsxWriter.perProjectXlsx(df, "Proyecto", dir.toString, maxProjects = 1)
    }
    assert(e.getMessage === "XlsxWriter.perProjectXlsx: more than 1 " +
      "projects — use the partitioned parquet sink")
    assert(!Files.exists(dir), "no output directory on the refused path")
  }

  test("reference CRM workbook survives write-then-reread cell-exactly") {
    val wb = "/root/reference/data_sperant_actual/BD_SPERANT_ACTUAL.xlsx"
    assume(new java.io.File(wb).isFile, s"reference workbook not present: $wb")
    val grid = XlsxSheetReader.readGrid(wb)
    val schema = StructType(grid.head.indices.map(i =>
      StructField(s"c$i", StringType)))
    val rows = grid.tail.map(r => Row.fromSeq(r.toSeq))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val path = tmp("crm.xlsx")
    XlsxWriter.writeWorkbook(path, Seq("BD" -> df))
    val back = XlsxSheetReader.readGrid(path)
    assert(back.length === grid.length)
    // data rows: every cell verbatim (all written as inline strings)
    grid.tail.zip(back.tail).zipWithIndex.foreach { case ((want, got), r) =>
      assert(got.toSeq === want.toSeq, s"row ${r + 1} must round-trip")
    }
  }

  test("per-project workbooks keep the frame's row order across partitions") {
    // one project's rows span all three partitions and interleave with
    // the others'; null-project rows sit between them
    val rows = Seq(
      Seq(Row("B", 1L, 1.5), Row("A", 2L, null), Row(null, 3L, 3.0),
        Row("B", 4L, 4.0)),
      Seq(Row("A", 5L, 5.25), Row("B", 6L, 6.0), Row("A", 7L, -7.0),
        Row("Ñandú", 8L, 8.0)),
      Seq(Row(null, 9L, 9.0), Row("Ñandú", 10L, 10.0),
        Row("B", 11L, 11.0), Row("A", 12L, 12.0)))
    val schema = StructType(Seq(StructField("Proyecto", StringType),
      StructField("n", LongType), StructField("precio", DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3).flatMap(identity), schema)
    assert(df.rdd.getNumPartitions === 3)
    val dir = Files.createTempDirectory("xlsxw-order").toString
    val pairs = XlsxWriter.perProjectXlsx(df, "Proyecto", dir)
    assert(pairs.map(_._1) === Seq("A", "B", "Ñandú"))
    pairs.foreach { case (p, path) =>
      val want = df.where(org.apache.spark.sql.functions.col("Proyecto") === p)
      val got = XlsxSheetReader.readGrid(path).tail.map(_(1).toLong).toSeq
      assert(got === want.collect().map(_.getLong(1)).toSeq, p)
      // byte for byte the workbook the per-project filter writes
      val ref = tmp("ref.xlsx")
      XlsxWriter.writeWorkbook(ref, Seq(XlsxWriter.safeSheetName(p) -> want))
      assert(java.util.Arrays.equals(
        Files.readAllBytes(java.nio.file.Paths.get(path)),
        Files.readAllBytes(java.nio.file.Paths.get(ref))), p)
    }
    assert(XlsxSheetReader.readGrid(pairs.head._2).tail.map(_(1)).toSeq ===
      Seq("2", "5", "7", "12"))
    // the null-project rows went to no workbook
    assert(pairs.map(pp => XlsxSheetReader.readGrid(pp._2).length - 1).sum
      === 10)
  }
}
