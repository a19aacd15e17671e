package graft.sinks

import java.io.{BufferedOutputStream, BufferedWriter, FileOutputStream,
  OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._
import graft.operators.BoundedCollect

/** Native `.xlsx` workbook EMISSION — the write edge of the Excel
  * round-trip whose read edge is [[graft.ingest.XlsxSheetReader]].
  * Zero dependencies beyond the JDK (`java.util.zip` for the OPC
  * container, hand-serialized SpreadsheetML), so the engine produces
  * the reference's actual output artifacts: the multi-sheet audit
  * workbook (`Actualizar_Precios_de_Nexo.py:483-487`,
  * `pd.ExcelWriter(engine="xlsxwriter")` with sheets Resumen /
  * Solo_en_df_total / Solo_en_sperant) and the one-workbook-per-project
  * price dumps (`:399-406` `dfp.to_excel(out_path, index=False)`).
  *
  * Cell mapping (header row = column names, `index=False` semantics):
  *
  *  - numeric columns (integral + floating + decimal) write plain
  *    number cells (`<v>`), integral-valued doubles without a
  *    fractional tail — the form Excel and the reader's tolerant
  *    numeric casts both accept;
  *  - booleans write `t="b"` 1/0 cells;
  *  - everything else (strings, dates, timestamps) writes
  *    `t="inlineStr"` with XML-escaped text and `xml:space="preserve"`
  *    when whitespace is load-bearing — inline strings keep each sheet
  *    part self-contained (no sharedStrings coordination), which is
  *    also why round-tripping through [[graft.ingest.XlsxSheetReader]]
  *    is cell-exact;
  *  - NULL cells are simply omitted — the reader pads sparse rows with
  *    nulls, so absence IS the null encoding.
  *
  * Determinism: fixed zip-entry timestamps and workbook-ordered parts,
  * so identical data yields byte-identical workbooks (diffable
  * artifacts, content-addressable caching).
  *
  * Scale posture: a workbook is a DRIVER-SIDE presentation artifact by
  * construction — one zip stream, no splittable row boundaries, an
  * Excel-imposed 1,048,576-row ceiling — exactly like the
  * `pd.ExcelWriter` it re-expresses. Rows are fetched with
  * `toLocalIterator` and each row's XML is written straight into the
  * open zip entry, so the driver holds one partition of rows and a
  * write buffer, never a whole sheet; the row cap is enforced while
  * streaming. Bulk data belongs to the parquet/CSV sinks; this closes
  * the workbook-EMISSION edge of the pipeline.
  */
object XlsxWriter {

  /** Excel's hard sheet capacity (rows per sheet, header included). */
  val ExcelMaxRows = 1048576

  /** Fixed DOS-epoch-ish timestamp for deterministic zip bytes. */
  private val ZipTime = 315532800000L // 1980-01-01T00:00:00Z

  /** 0-based column index -> 'A', 'Z', 'AA', ... (inverse of
    * [[graft.ingest.XlsxSheetReader.colIndex]]). */
  def colRef(idx: Int): String = {
    val sb = new StringBuilder
    var n = idx + 1
    while (n > 0) {
      val r = (n - 1) % 26
      sb.insert(0, ('A' + r).toChar)
      n = (n - 1) / 26
    }
    sb.toString
  }

  /** Excel sheet-name rules: strip `[]:*?/\`, cap at 31 chars,
    * never empty. Callers keep names unique. */
  def safeSheetName(name: String): String = {
    val cleaned = Option(name).getOrElse("")
      .replaceAll("[\\[\\]:*?/\\\\]", "").trim
    val capped = if (cleaned.length > 31) cleaned.substring(0, 31) else cleaned
    if (capped.isEmpty) "Sheet" else capped
  }

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c if c < 0x20 && c != '\t' && c != '\n' && c != '\r' =>
        () // control chars are not representable in XML 1.0; drop
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Canonical number text: integral doubles lose the ".0" tail so the
    * cell reads back the way `pd.to_excel` writes whole numbers. */
  private def numText(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def inlineStrCell(ref: String, s: String): String = {
    val preserve =
      if (s.nonEmpty && (s.head.isWhitespace || s.last.isWhitespace))
        " xml:space=\"preserve\"" else ""
    s"""<c r="$ref" t="inlineStr"><is><t$preserve>${xmlEscape(s)}</t></is></c>"""
  }

  private def cellXml(ref: String, v: Any): Option[String] = v match {
    case null => None
    case b: Boolean =>
      Some(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>""")
    case n: Byte => Some(s"""<c r="$ref"><v>${n.toLong}</v></c>""")
    case n: Short => Some(s"""<c r="$ref"><v>${n.toLong}</v></c>""")
    case n: Int => Some(s"""<c r="$ref"><v>${n.toLong}</v></c>""")
    case n: Long => Some(s"""<c r="$ref"><v>$n</v></c>""")
    case n: Float => Some(s"""<c r="$ref"><v>${numText(n.toDouble)}</v></c>""")
    case n: Double => Some(s"""<c r="$ref"><v>${numText(n)}</v></c>""")
    case n: java.math.BigDecimal =>
      Some(s"""<c r="$ref"><v>${n.stripTrailingZeros.toPlainString}</v></c>""")
    case n: BigDecimal =>
      Some(s"""<c r="$ref"><v>${n.underlying.stripTrailingZeros.toPlainString}</v></c>""")
    case other => Some(inlineStrCell(ref, other.toString))
  }

  /** Write one worksheet part: the header row, then the first
    * `header.size` cells of each row (later cells are the caller's
    * bookkeeping, not data). */
  private def writeSheet(out: Writer, header: Seq[String], rows: Iterator[Row],
                         maxRows: Int): Unit = {
    out.write("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>")
    out.write("<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">")
    out.write("<sheetData>")
    out.write("""<row r="1">""")
    header.zipWithIndex.foreach { case (h, i) =>
      out.write(inlineStrCell(colRef(i) + "1", Option(h).getOrElse("")))
    }
    out.write("</row>")
    var r = 2
    while (rows.hasNext) {
      require(r <= maxRows, s"sheet exceeds $maxRows rows " +
        "(Excel sheet capacity) — route bulk data to the parquet/CSV sinks")
      val row = rows.next()
      out.write(s"""<row r="$r">""")
      var i = 0
      while (i < header.size) {
        val v = if (row.isNullAt(i)) null else row.get(i)
        cellXml(colRef(i) + r.toString, v).foreach(out.write)
        i += 1
      }
      out.write("</row>")
      r += 1
    }
    out.write("</sheetData></worksheet>")
  }

  private def contentTypesXml(n: Int): String = {
    val sheets = (1 to n).map(i =>
      s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      .mkString
    "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
      "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
      "<Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>" +
      "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
      "<Override PartName=\"/xl/workbook.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml\"/>" +
      "<Override PartName=\"/xl/styles.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml\"/>" +
      sheets + "</Types>"
  }

  private val RootRelsXml =
    "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
      "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
      "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument\" Target=\"xl/workbook.xml\"/>" +
      "</Relationships>"

  /** Minimal styles part — one font/fill/border/xf. Not needed by the
    * engine's own reader, but Excel and openpyxl expect it to exist. */
  private val StylesXml =
    "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
      "<styleSheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">" +
      "<fonts count=\"1\"><font><sz val=\"11\"/><name val=\"Calibri\"/></font></fonts>" +
      "<fills count=\"1\"><fill><patternFill patternType=\"none\"/></fill></fills>" +
      "<borders count=\"1\"><border/></borders>" +
      "<cellStyleXfs count=\"1\"><xf/></cellStyleXfs>" +
      "<cellXfs count=\"1\"><xf xfId=\"0\"/></cellXfs>" +
      "</styleSheet>"

  private def workbookXml(names: Seq[String]): String = {
    val sheets = names.zipWithIndex.map { case (n, i) =>
      s"""<sheet name="${xmlEscape(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
      "<workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"" +
      " xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\">" +
      s"<sheets>$sheets</sheets></workbook>"
  }

  private def workbookRelsXml(n: Int): String = {
    val rels = (1 to n).map(i =>
      s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
      .mkString
    "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
      "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
      rels +
      s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
      "</Relationships>"
  }

  /** Write one zip entry through a buffered UTF-8 writer. */
  private def putEntry(z: ZipOutputStream, name: String)(
      body: Writer => Unit): Unit = {
    val e = new ZipEntry(name)
    e.setTime(ZipTime)
    z.putNextEntry(e)
    val out = new BufferedWriter(
      new OutputStreamWriter(z, StandardCharsets.UTF_8), 1 << 16)
    body(out)
    out.flush() // not close(): that would close the zip stream
    z.closeEntry()
  }

  /** One worksheet to write: its name, its header and, when its turn
    * comes, its rows. */
  private case class Sheet(name: String, header: Seq[String],
                           rows: () => Iterator[Row])

  private def writeSheets(path: String, sheets: Seq[Sheet],
                          maxRows: Int): Unit = {
    require(sheets.nonEmpty, "workbook needs at least one sheet")
    val names = sheets.map(s => safeSheetName(s.name))
    require(names.distinct.size == names.size,
      s"duplicate sheet names after sanitization: ${names.mkString(", ")}")
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    val z = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)))
    try {
      putEntry(z, "[Content_Types].xml")(_.write(contentTypesXml(sheets.size)))
      putEntry(z, "_rels/.rels")(_.write(RootRelsXml))
      putEntry(z, "xl/workbook.xml")(_.write(workbookXml(names)))
      putEntry(z, "xl/_rels/workbook.xml.rels")(
        _.write(workbookRelsXml(sheets.size)))
      putEntry(z, "xl/styles.xml")(_.write(StylesXml))
      sheets.zipWithIndex.foreach { case (s, i) =>
        putEntry(z, s"xl/worksheets/sheet${i + 1}.xml")(
          writeSheet(_, s.header, s.rows(), maxRows))
      }
    } finally z.close()
  }

  /** Write a multi-sheet workbook — each `(sheetName, df)` becomes one
    * worksheet with a header row. Sheet order = argument order = tab
    * order, matching `pd.ExcelWriter`'s sequential `to_excel` calls. */
  def writeWorkbook(path: String, sheets: Seq[(String, DataFrame)],
                    maxRows: Int = ExcelMaxRows): Unit =
    writeSheets(path, sheets.map { case (n, df) =>
      Sheet(n, df.columns.toSeq, () => df.toLocalIterator().asScala)
    }, maxRows)

  /** S6 as the reference actually ships it — the REAL three-sheet audit
    * workbook (`Actualizar_Precios_de_Nexo.py:483-487`), sheet names
    * verbatim. The parquet-directory form ([[Writers.auditWorkbook]])
    * remains the scale-friendly sibling. */
  def auditWorkbookXlsx(resumen: DataFrame, soloNexo: DataFrame,
                        soloSperant: DataFrame, path: String): Unit =
    writeWorkbook(path, Seq(
      "Resumen" -> resumen,
      "Solo_en_df_total" -> soloNexo,
      "Solo_en_sperant" -> soloSperant))

  /** One workbook per project (`:399-406`), each holding that
    * project's rows in the frame's own order; rows with a null project
    * are skipped. The (bounded, audit-scale) project list is fetched
    * first and refused over `maxProjects` before anything is written.
    * Then the frame is streamed ONCE, sorted by (project, row order),
    * and a new workbook starts at each project boundary, so the frame's
    * plan runs once, not once per project. The row order is captured with
    * `monotonically_increasing_id` before the sort, and the projects
    * sort by their rank in the driver's sorted list, so the files come
    * out in the order they are returned. Project names pass through
    * [[Writers.safeFilename]]. Returns (project, path) PAIRS, sorted by
    * project — callers that need the project a file belongs to read it
    * off the pair (round-14 ADVICE: a bare path list invites a
    * positional zip against a separately collected project list, which
    * silently mislabels every sheet if the two orders ever diverge). */
  def perProjectXlsx(df: DataFrame, projectCol: String, outDir: String,
                     maxProjects: Int = 1000): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    val projects = BoundedCollect.orFail(
        df.select(col(projectCol)).where(col(projectCol).isNotNull).distinct(),
        maxProjects, "XlsxWriter.perProjectXlsx", "projects",
        "use the partitioned parquet sink")
      .map(_.getString(0)).sorted.toSeq
    Files.createDirectories(Paths.get(outDir))
    val pairs = projects.map(p =>
      p -> s"$outDir/Precios_${Writers.safeFilename(p)}.xlsx")
    if (projects.nonEmpty) {
      val header = df.columns.toSeq
      val rank = header.size // the one column past the header
      val rows = df
        .withColumn("__xlsx_ord", monotonically_increasing_id())
        .where(col(projectCol).isNotNull)
        .withColumn("__xlsx_rank",
          element_at(typedLit(projects.zipWithIndex.toMap), col(projectCol)))
        .orderBy("__xlsx_rank", "__xlsx_ord")
        .drop("__xlsx_ord")
        .toLocalIterator().asScala.buffered
      while (rows.hasNext) {
        val k = rows.head.getInt(rank)
        val (p, path) = pairs(k)
        val project = new Iterator[Row] {
          def hasNext: Boolean = rows.hasNext && rows.head.getInt(rank) == k
          def next(): Row = rows.next()
        }
        writeSheets(path, Seq(Sheet(safeSheetName(p), header, () => project)),
          ExcelMaxRows)
      }
    }
    pairs
  }
}
