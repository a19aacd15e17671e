package graft.ingest

import java.io.ByteArrayInputStream
import java.util.zip.ZipFile
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Document, Element}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Native `.xlsx` workbook ingestion — zero dependencies beyond the JDK
  * (`java.util.zip` for the OPC container, `javax.xml.parsers` for the
  * sheet XML), so the engine opens the reference's REAL data files
  * (`data_sperant_actual/BD_SPERANT_ACTUAL.xlsx` and the
  * `tablas_actualizadas` workbooks) directly instead of via
  * re-materialized fixtures. Mirrors `pd.read_excel`'s raw-cell semantics as the
  * reference uses them (`Actualizar_Precios_de_Nexo.py:191-199`):
  *
  *  - shared strings resolve through `xl/sharedStrings.xml` (all `<t>`
  *    runs of an `<si>` concatenate — rich-text formatting is content);
  *  - `t="inlineStr"` cells read their inline `<t>` runs;
  *  - every other cell yields its raw `<v>` text (numbers keep Excel's
  *    serialized form; the pipeline's tolerant numeric/date casts do
  *    the typing downstream, same as on the CSV-dump path);
  *  - cell positions come from the `r="BC12"` references, so sparse
  *    rows pad with nulls exactly like a pandas frame;
  *  - sheet names resolve via `xl/workbook.xml` +
  *    `xl/_rels/workbook.xml.rels` (never by zip-entry order, which
  *    Excel does not guarantee).
  *
  * Scale posture: a workbook is a DRIVER-SIDE artifact by construction
  * (one zip, one writer, no splittable row boundaries — the same is
  * true of `pd.read_excel`), so parsing happens on the driver.
  * [[RawSheetReader.fromGrid]] then resolves the sheet's layout from the
  * grid's first rows with no Spark job and parallelizes only the rows
  * past the header. Bulk data belongs to the parquet path; this closes
  * the workbook-INGESTION edge of the pipeline.
  */
object XlsxSheetReader {

  private val MainNs =
    "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val RelNs =
    "http://schemas.openxmlformats.org/package/2006/relationships"
  private val DocRelNs =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  /** 'BC12' -> 0-based column index 54. */
  def colIndex(ref: String): Int = {
    var acc = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def parseXml(bytes: Array[Byte]): Document = {
    val f = DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    // the workbook is data, not a trusted document: no external
    // entities, no DTDs
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl",
      true)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(new ByteArrayInputStream(bytes))
  }

  private def entryBytes(z: ZipFile, name: String): Option[Array[Byte]] =
    Option(z.getEntry(name)).map { e =>
      val in = z.getInputStream(e)
      try in.readAllBytes() finally in.close()
    }

  private def elems(parent: Element, ns: String,
                    local: String): Seq[Element] = {
    val nl = parent.getElementsByTagNameNS(ns, local)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  /** All text runs (`<t>`) under `e`, concatenated — rich-text shared
    * strings split one logical value across runs. */
  private def textRuns(e: Element): String =
    elems(e, MainNs, "t").map(_.getTextContent).mkString

  /** The workbook's sheet names, in workbook (tab) order. */
  def sheetNames(path: String): Seq[String] = {
    val z = new ZipFile(path)
    try sheetTable(z).map(_._1)
    finally z.close()
  }

  /** (name, zip entry) per sheet, via workbook.xml + its rels part. */
  private def sheetTable(z: ZipFile): Seq[(String, String)] = {
    val wb = parseXml(entryBytes(z, "xl/workbook.xml").getOrElse(
      throw new IllegalArgumentException(
        s"${z.getName}: not an xlsx workbook (no xl/workbook.xml)")))
    val rels = entryBytes(z, "xl/_rels/workbook.xml.rels").map(parseXml)
    val relTargets: Map[String, String] = rels.map { d =>
      elems(d.getDocumentElement, RelNs, "Relationship")
        .map(r => r.getAttribute("Id") -> r.getAttribute("Target")).toMap
    }.getOrElse(Map.empty)
    elems(wb.getDocumentElement, MainNs, "sheet").zipWithIndex.map {
      case (s, i) =>
        val name = s.getAttribute("name")
        val rid = s.getAttributeNS(DocRelNs, "id")
        val target = relTargets.get(rid)
          .map(t => if (t.startsWith("/")) t.stripPrefix("/")
            else "xl/" + t.stripPrefix("./"))
          .getOrElse(s"xl/worksheets/sheet${i + 1}.xml")
        name -> target
    }
  }

  /** The raw cell grid of one sheet (default: the first) — rows of
    * nullable strings, dense up to the sheet's max used column. */
  def readGrid(path: String, sheet: Option[String] = None)
      : Seq[Array[String]] = {
    val z = new ZipFile(path)
    try {
      val sheets = sheetTable(z)
      require(sheets.nonEmpty, s"$path: workbook has no sheets")
      val (sName, sEntry) = sheet match {
        case Some(want) => sheets.find(_._1 == want).getOrElse(
          throw new IllegalArgumentException(
            s"$path: no sheet named '$want' " +
              s"(have ${sheets.map(_._1).mkString(", ")})"))
        case None => sheets.head
      }
      val shared: IndexedSeq[String] =
        entryBytes(z, "xl/sharedStrings.xml").map { b =>
          elems(parseXml(b).getDocumentElement, MainNs, "si")
            .map(textRuns).toIndexedSeq
        }.getOrElse(IndexedSeq.empty)
      val doc = parseXml(entryBytes(z, sEntry).getOrElse(
        throw new IllegalArgumentException(
          s"$path: sheet '$sName' part $sEntry missing")))

      def cellValue(c: Element): String = c.getAttribute("t") match {
        case "inlineStr" => textRuns(c)
        case t =>
          elems(c, MainNs, "v").headOption.map(_.getTextContent) match {
            case Some(v) if t == "s" => shared(v.trim.toInt)
            case Some(v) => v
            case None => null
          }
      }

      val rows = ArrayBuffer[Map[Int, String]]()
      var width = 0
      elems(doc.getDocumentElement, MainNs, "row").foreach { r =>
        val cells = elems(r, MainNs, "c").map { c =>
          val idx = colIndex(c.getAttribute("r"))
          if (idx + 1 > width) width = idx + 1
          idx -> cellValue(c)
        }.toMap
        rows += cells
      }
      rows.map(cells =>
        Array.tabulate(width)(i => cells.getOrElse(i, null))).toSeq
    } finally z.close()
  }

  /** Ingest one sheet of a workbook with the SAME layout as the
    * CSV-dump and `.xls` paths (`RawSheetReader.Layout`: header
    * auto-detect over the first rows, alias renames, duplicate collapse,
    * ensure-columns, project injection) — a user of the reference
    * pointing at its real `.xlsx` lands here. No Spark job runs before
    * the frame's first action. */
  def readSheet(spark: SparkSession, path: String, proyecto: String,
                cfg: RawSheetReader.Config,
                sheet: Option[String] = None): DataFrame = {
    RawSheetReader.fromGrid(spark, readGrid(path, sheet), path, proyecto, cfg)
  }
}
