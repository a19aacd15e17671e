package graft.sinks

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.apache.spark.sql.{DataFrame, Row}
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
  * `toLocalIterator` (one partition in driver memory at a time, not
  * a full collect) and the row cap is enforced while streaming. Bulk
  * data belongs to the parquet/CSV sinks; this closes the
  * workbook-EMISSION edge of the pipeline.
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

  private def sheetXml(header: Seq[String], rows: Iterator[Row],
                       maxRows: Int): String = {
    val sb = new StringBuilder(1 << 16)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>")
    sb.append("<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">")
    sb.append("<sheetData>")
    sb.append("""<row r="1">""")
    header.zipWithIndex.foreach { case (h, i) =>
      sb.append(inlineStrCell(colRef(i) + "1", Option(h).getOrElse("")))
    }
    sb.append("</row>")
    var r = 2
    while (rows.hasNext) {
      require(r <= maxRows, s"sheet exceeds $maxRows rows " +
        "(Excel sheet capacity) — route bulk data to the parquet/CSV sinks")
      val row = rows.next()
      sb.append(s"""<row r="$r">""")
      var i = 0
      while (i < row.length) {
        val v = if (row.isNullAt(i)) null else row.get(i)
        cellXml(colRef(i) + r.toString, v).foreach(sb.append)
        i += 1
      }
      sb.append("</row>")
      r += 1
    }
    sb.append("</sheetData></worksheet>")
    sb.toString
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

  private def putEntry(z: ZipOutputStream, name: String,
                       content: String): Unit = {
    val e = new ZipEntry(name)
    e.setTime(ZipTime)
    z.putNextEntry(e)
    z.write(content.getBytes(StandardCharsets.UTF_8))
    z.closeEntry()
  }

  /** Write a multi-sheet workbook — each `(sheetName, df)` becomes one
    * worksheet with a header row. Sheet order = argument order = tab
    * order, matching `pd.ExcelWriter`'s sequential `to_excel` calls. */
  def writeWorkbook(path: String, sheets: Seq[(String, DataFrame)],
                    maxRows: Int = ExcelMaxRows): Unit = {
    require(sheets.nonEmpty, "workbook needs at least one sheet")
    val names = sheets.map { case (n, _) => safeSheetName(n) }
    require(names.distinct.size == names.size,
      s"duplicate sheet names after sanitization: ${names.mkString(", ")}")
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    val z = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)))
    try {
      putEntry(z, "[Content_Types].xml", contentTypesXml(sheets.size))
      putEntry(z, "_rels/.rels", RootRelsXml)
      putEntry(z, "xl/workbook.xml", workbookXml(names))
      putEntry(z, "xl/_rels/workbook.xml.rels", workbookRelsXml(sheets.size))
      putEntry(z, "xl/styles.xml", StylesXml)
      sheets.zipWithIndex.foreach { case ((_, df), i) =>
        putEntry(z, s"xl/worksheets/sheet${i + 1}.xml",
          sheetXml(df.columns.toSeq, df.toLocalIterator().asScala, maxRows))
      }
    } finally z.close()
  }

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

  /** One workbook per project (`:399-406`): the driver loops the
    * (bounded, audit-scale) project list and filters per project —
    * the reference's own shape, kept deliberately driver-side. Project
    * names pass through [[Writers.safeFilename]]. Returns
    * (project, path) PAIRS, sorted by project — callers that need the
    * project a file belongs to read it off the pair (round-14 ADVICE:
    * a bare path list invites a positional zip against a separately
    * collected project list, which silently mislabels every sheet if
    * the two orders ever diverge). */
  def perProjectXlsx(df: DataFrame, projectCol: String, outDir: String,
                     maxProjects: Int = 1000): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.col
    val projects = BoundedCollect.orFail(
        df.select(col(projectCol)).where(col(projectCol).isNotNull).distinct(),
        maxProjects, "XlsxWriter.perProjectXlsx", "projects",
        "use the partitioned parquet sink")
      .map(_.getString(0)).sorted.toSeq
    Files.createDirectories(Paths.get(outDir))
    projects.map { p =>
      val path = s"$outDir/Precios_${Writers.safeFilename(p)}.xlsx"
      writeWorkbook(path, Seq(safeSheetName(p) ->
        df.where(col(projectCol) === p)))
      (p, path)
    }
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
