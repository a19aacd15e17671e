package graft.ingest

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Native legacy `.xls` (BIFF8) workbook ingestion — zero dependencies
  * beyond the JDK, closing the one ingestion edge the engine lacked: the
  * reference's price lists are "`.xls` antiguos" read via
  * `xlrd.open_workbook(..., ignore_workbook_corruption=True)`
  * (`Actualizar_Precios_de_Nexo.py:191-193`), and until now only their
  * re-materialized CSV/xlsx forms had a path in.
  *
  * Two layers, both implemented here from the public file-format
  * specifications (MS-CFB and MS-XLS / OpenOffice's documented BIFF8):
  *
  *  1. **CFB container** (the OLE2 compound file): 512-byte header,
  *     DIFAT → FAT sector chains, directory entries, and the mini-FAT /
  *     mini-stream for streams under the 4096-byte cutoff. The cell data
  *     lives in the directory's `Workbook` (or BIFF5-era `Book`) stream.
  *     Files that start directly with a BIFF `BOF` record (no CFB
  *     wrapper — some exporters write the bare stream, and xlrd accepts
  *     them) are used as-is.
  *  2. **BIFF8 record stream**: globals substream (`BOUNDSHEET` sheet
  *     table with substream offsets, `SST` shared strings including
  *     `CONTINUE` splits that re-state the encoding flag mid-string),
  *     then per-sheet substreams with the cell records `NUMBER`, `RK`,
  *     `MULRK`, `LABELSST`, `LABEL`, `RSTRING`, `FORMULA` (cached
  *     numeric/boolean/string results, the string via the trailing
  *     `STRING` record), `BOOLERR`, `BLANK`/`MULBLANK`.
  *
  * Tolerance mirrors the reference's `ignore_workbook_corruption`:
  * unknown record types are skipped, and a record that runs past the end
  * of the stream (or a zero record id — zero-padding) terminates the
  * scan instead of failing, so truncated or padded workbooks still yield
  * every cell that is physically present.
  *
  * Cell → string conventions match the `.xlsx` path
  * ([[XlsxSheetReader]]) so both workbook formats feed the SAME tolerant
  * ingestion core with the same downstream typing: numbers serialize
  * integral-as-integer (Excel's own `<v>` convention), booleans as
  * `1`/`0`, blanks and error cells as null, and date cells stay raw
  * serial numbers for the pipeline's tolerant casts. Unlike the xlsx
  * DOM walk, row indices here are explicit in every record, so the grid
  * is dense over `0..maxRow` (xlrd's `sheet.nrows` semantics): a fully
  * empty interior row appears as a row of nulls.
  *
  * Scale posture: identical to [[XlsxSheetReader]] — a workbook is a
  * driver-side artifact by construction (single stream, no splittable
  * row boundaries; true of `xlrd` as well), so parsing happens on the
  * driver. [[RawSheetReader.fromGrid]] then resolves the sheet's layout
  * from the grid's first rows with no Spark job and parallelizes only
  * the rows past the header. Bulk data belongs to the parquet path; this
  * closes workbook INGESTION.
  */
object XlsSheetReader {

  // ---------------------------------------------------------------- util
  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xFF
  private def u16(b: Array[Byte], o: Int): Int = u8(b, o) | (u8(b, o + 1) << 8)
  private def i32(b: Array[Byte], o: Int): Int =
    u8(b, o) | (u8(b, o + 1) << 8) | (u8(b, o + 2) << 16) | (u8(b, o + 3) << 24)
  private def f64(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (b(o + i) & 0xFFL); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Integral doubles print as integers (Excel's serialized-number
    * convention, same as the xlsx `<v>` text the sibling reader emits). */
  private def fmtNum(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** RK-encoded number: bit0 = ÷100, bit1 = integer vs truncated IEEE. */
  private[ingest] def decodeRk(rk: Int): Double = {
    val base =
      if ((rk & 2) != 0) (rk >> 2).toDouble // signed 30-bit integer
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if ((rk & 1) != 0) base / 100.0 else base
  }

  // ----------------------------------------------------------- CFB layer
  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF

  /** Extract the `Workbook` stream from a CFB container, or return the
    * bytes unchanged when they already start with a BIFF `BOF` record
    * (bare-stream exports, accepted by xlrd too). */
  private[ingest] def workbookStream(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length >= 4 && u16(bytes, 0) == 0x0809) return bytes
    require(bytes.length >= 512 &&
      i32(bytes, 0) == 0xE011CFD0 && i32(bytes, 4) == 0xE11AB1A1,
      "not a compound (.xls) file: bad CFB signature and no BOF record")
    val sectorShift = u16(bytes, 30)
    val sectorSize = 1 << sectorShift
    val miniShift = u16(bytes, 32)
    val numFat = i32(bytes, 44)
    val firstDir = i32(bytes, 48)
    val miniCutoff = i32(bytes, 56)
    val firstMiniFat = i32(bytes, 60)
    var nextDifat = i32(bytes, 68)

    def sector(i: Int): Array[Byte] = {
      val off = (i + 1) << sectorShift
      java.util.Arrays.copyOfRange(bytes, off,
        math.min(off + sectorSize, bytes.length))
    }

    // DIFAT: 109 header slots, then chained DIFAT sectors
    val fatSectIds = ArrayBuffer[Int]()
    var k = 0
    while (k < 109 && fatSectIds.length < numFat) {
      val v = i32(bytes, 76 + 4 * k)
      if (v != FreeSect) fatSectIds += v
      k += 1
    }
    while (nextDifat != EndOfChain && nextDifat != FreeSect &&
           fatSectIds.length < numFat) {
      val s = sector(nextDifat)
      var j = 0
      while (j < sectorSize / 4 - 1 && fatSectIds.length < numFat) {
        val v = i32(s, 4 * j)
        if (v != FreeSect) fatSectIds += v
        j += 1
      }
      nextDifat = i32(s, sectorSize - 4)
    }
    val fat: Array[Int] = fatSectIds.toArray.flatMap { sid =>
      val s = sector(sid); Array.tabulate(s.length / 4)(j => i32(s, 4 * j))
    }

    def chain(start: Int): Seq[Int] = {
      val out = ArrayBuffer[Int]()
      var cur = start
      val seen = scala.collection.mutable.Set[Int]()
      while (cur != EndOfChain && cur != FreeSect && cur >= 0 &&
             cur < fat.length && seen.add(cur)) {
        out += cur; cur = fat(cur)
      }
      out.toSeq
    }
    def readChain(start: Int): Array[Byte] =
      chain(start).toArray.flatMap(sector)

    // directory entries (128 bytes each)
    val dir = readChain(firstDir)
    case class Entry(name: String, tpe: Int, start: Int, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val o = i * 128
      val nameLen = u16(dir, o + 64)
      val name = if (nameLen >= 2)
        new String(dir, o, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
      else ""
      Entry(name, u8(dir, o + 66), i32(dir, o + 116),
        i32(dir, o + 120).toLong & 0xFFFFFFFFL)
    }
    val root = entries.find(_.tpe == 5).getOrElse(
      throw new IllegalArgumentException("CFB: no root directory entry"))
    val wb = entries.find(e => e.tpe == 2 &&
        (e.name == "Workbook" || e.name == "Book"))
      .orElse(entries.find(_.tpe == 2))
      .getOrElse(throw new IllegalArgumentException(
        "CFB: no Workbook stream in directory"))

    val raw: Array[Byte] =
      if (wb.size >= miniCutoff) readChain(wb.start)
      else { // mini-stream: 64-byte sectors carved out of the root stream
        val miniFatB = readChain(firstMiniFat)
        val miniFat = Array.tabulate(miniFatB.length / 4)(j => i32(miniFatB, 4 * j))
        val miniData = readChain(root.start)
        val miniSize = 1 << miniShift
        val out = ArrayBuffer[Byte]()
        var cur = wb.start
        val seen = scala.collection.mutable.Set[Int]()
        while (cur != EndOfChain && cur != FreeSect && cur >= 0 &&
               cur < miniFat.length && seen.add(cur)) {
          val off = cur * miniSize
          out ++= java.util.Arrays.copyOfRange(miniData, off,
            math.min(off + miniSize, miniData.length))
          cur = miniFat(cur)
        }
        out.toArray
      }
    if (raw.length > wb.size) java.util.Arrays.copyOf(raw, wb.size.toInt)
    else raw
  }

  // ---------------------------------------------------------- BIFF layer
  private val RecBof = 0x0809
  private val RecEof = 0x000A
  private val RecBoundSheet = 0x0085
  private val RecSst = 0x00FC
  private val RecContinue = 0x003C
  private val RecLabelSst = 0x00FD
  private val RecLabel = 0x0204
  private val RecRString = 0x00D6
  private val RecNumber = 0x0203
  private val RecRk = 0x027E
  private val RecMulRk = 0x00BD
  private val RecBlank = 0x0201
  private val RecMulBlank = 0x00BE
  private val RecFormula = 0x0006
  private val RecString = 0x0207
  private val RecBoolErr = 0x0205

  private case class Rec(id: Int, data: Array[Byte], pos: Int)

  /** Tolerant record scan from `from`: stops at stream end, a record
    * running past it, or zero-padding (id 0). */
  private def records(s: Array[Byte], from: Int): Iterator[Rec] =
    new Iterator[Rec] {
      private var pos = from
      private var nxt: Rec = advance()
      private def advance(): Rec = {
        if (pos + 4 > s.length) return null
        val id = u16(s, pos); val sz = u16(s, pos + 2)
        if (id == 0 || pos + 4 + sz > s.length) return null
        val r = Rec(id, java.util.Arrays.copyOfRange(s, pos + 4, pos + 4 + sz), pos)
        pos += 4 + sz
        r
      }
      def hasNext: Boolean = nxt != null
      def next(): Rec = { val r = nxt; nxt = advance(); r }
    }

  /** Cursor over a record's data plus its CONTINUE segments; BIFF8
    * strings that split across a CONTINUE boundary re-state their
    * encoding flag byte at the start of the new segment. */
  private final class SegCursor(segs: IndexedSeq[Array[Byte]]) {
    private var si = 0
    private var off = 0
    private def seg = segs(si)
    private def roll(): Unit =
      while (si < segs.length && off >= seg.length && si + 1 < segs.length) {
        si += 1; off = 0
      }
    def remainingInSeg: Int = { roll(); seg.length - off }
    def readU8(): Int = { roll(); val v = u8(seg, off); off += 1; v }
    def readU16(): Int = readU8() | (readU8() << 8)
    def readI32(): Int = readU16() | (readU16() << 16)
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        roll()
        val take = math.min(left, seg.length - off)
        if (take == 0) return // tolerate truncation
        off += take; left -= take
      }
    }
    /** XLUnicodeString: `cch` (8- or 16-bit), flags, optional rich/ext
      * sizes, characters (possibly spanning CONTINUEs — every
      * continuation fragment of the char array re-states the flag
      * byte, so compressed and UTF-16 fragments can alternate), then
      * skipped rich-run/ext payloads. */
    def readString(len16: Boolean): String = {
      val cch = if (len16) readU16() else readU8()
      var flags = readU8()
      val cRun = if ((flags & 0x08) != 0) readU16() else 0
      val cbExt = if ((flags & 0x04) != 0) readI32() else 0
      val sb = new java.lang.StringBuilder(cch)
      var left = cch
      var curSeg = -1
      while (left > 0) {
        if (remainingInSeg == 0) return sb.toString // truncated: tolerate
        if (curSeg == -1) curSeg = si // segment the char data starts in
        else if (si != curSeg) { flags = readU8(); curSeg = si }
        val wide = (flags & 0x01) != 0
        val avail = remainingInSeg / (if (wide) 2 else 1)
        val take = math.min(left, avail)
        if (take == 0) return sb.toString
        var i = 0
        while (i < take) {
          val c = if (wide) readU16() else readU8()
          sb.append(c.toChar)
          i += 1
        }
        left -= take
      }
      skip(4 * cRun)
      skip(cbExt)
      sb.toString
    }
  }

  /** One BIFF8 string alone in a record's data (STRING, LABEL tail). */
  private def singleString(data: Array[Byte], from: Int): String = {
    val c = new SegCursor(IndexedSeq(java.util.Arrays.copyOfRange(
      data, from, data.length)))
    c.readString(len16 = true)
  }

  private case class SheetInfo(name: String, pos: Int)

  private def parseGlobals(s: Array[Byte])
      : (Seq[SheetInfo], IndexedSeq[String]) = {
    val sheets = ArrayBuffer[SheetInfo]()
    var shared: IndexedSeq[String] = IndexedSeq.empty
    val it = records(s, 0)
    val buf = ArrayBuffer[Rec]()
    while (it.hasNext) {
      val r = it.next()
      buf += r
      if (r.id == RecEof) {
        // globals substream ends at its EOF
        var i = 0
        while (i < buf.length) {
          val rec = buf(i)
          rec.id match {
            case RecBoundSheet =>
              val pos = i32(rec.data, 0)
              val cch = u8(rec.data, 6)
              val grbit = u8(rec.data, 7)
              val name =
                if ((grbit & 1) != 0)
                  new String(rec.data, 8, 2 * cch,
                    java.nio.charset.StandardCharsets.UTF_16LE)
                else new String(rec.data, 8, cch,
                  java.nio.charset.StandardCharsets.ISO_8859_1)
              sheets += SheetInfo(name, pos)
            case RecSst =>
              val segs = ArrayBuffer[Array[Byte]](rec.data)
              var j = i + 1
              while (j < buf.length && buf(j).id == RecContinue) {
                segs += buf(j).data; j += 1
              }
              val cur = new SegCursor(segs.toIndexedSeq)
              cur.skip(4) // cstTotal
              val unique = cur.readI32()
              shared = (0 until unique).map(_ => cur.readString(len16 = true))
            case _ =>
          }
          i += 1
        }
        return (sheets.toSeq, shared)
      }
    }
    (sheets.toSeq, shared) // truncated globals: yield what we saw
  }

  private def parseSheet(s: Array[Byte], from: Int,
                         shared: IndexedSeq[String]): Seq[Array[String]] = {
    val cells = scala.collection.mutable.Map[(Int, Int), String]()
    var maxRow = -1
    var maxCol = -1
    def put(row: Int, col: Int, v: String): Unit = {
      if (row > maxRow) maxRow = row
      if (col > maxCol) maxCol = col
      if (v != null) cells((row, col)) = v
    }
    val it = records(s, from).buffered
    var started = false
    var done = false
    var pendingString: Option[(Int, Int)] = None
    while (it.hasNext && !done) {
      val r = it.next()
      r.id match {
        case RecBof if started => done = true // next substream
        case RecBof => started = true
        case RecEof => done = true
        case RecNumber =>
          put(u16(r.data, 0), u16(r.data, 2), fmtNum(f64(r.data, 6)))
        case RecRk =>
          put(u16(r.data, 0), u16(r.data, 2), fmtNum(decodeRk(i32(r.data, 6))))
        case RecMulRk =>
          val row = u16(r.data, 0); val colFirst = u16(r.data, 2)
          val n = (r.data.length - 6) / 6
          var j = 0
          while (j < n) {
            put(row, colFirst + j, fmtNum(decodeRk(i32(r.data, 4 + 6 * j + 2))))
            j += 1
          }
        case RecLabelSst =>
          val idx = i32(r.data, 6)
          put(u16(r.data, 0), u16(r.data, 2),
            if (idx >= 0 && idx < shared.length) shared(idx) else null)
        case RecLabel | RecRString =>
          put(u16(r.data, 0), u16(r.data, 2), singleString(r.data, 6))
        case RecBoolErr =>
          val isErr = u8(r.data, 7) != 0
          put(u16(r.data, 0), u16(r.data, 2),
            if (isErr) null else if (u8(r.data, 6) != 0) "1" else "0")
        case RecBlank =>
          put(u16(r.data, 0), u16(r.data, 2), null)
        case RecMulBlank =>
          val row = u16(r.data, 0); val colFirst = u16(r.data, 2)
          val n = (r.data.length - 6) / 2
          var j = 0
          while (j < n) { put(row, colFirst + j, null); j += 1 }
        case RecFormula =>
          val row = u16(r.data, 0); val col = u16(r.data, 2)
          if (u16(r.data, 12) == 0xFFFF) u8(r.data, 6) match {
            case 0 => pendingString = Some((row, col)) // value in STRING rec
            case 1 => put(row, col, if (u8(r.data, 8) != 0) "1" else "0")
            case 3 => put(row, col, "")
            case _ => put(row, col, null) // error result
          }
          else put(row, col, fmtNum(f64(r.data, 6)))
        case RecString =>
          pendingString.foreach { case (row, col) =>
            put(row, col, singleString(r.data, 0))
          }
          pendingString = None
        case _ => // DIMENSIONS, ROW, XF, formats, … — not cell content
      }
    }
    (0 to maxRow).map { row =>
      Array.tabulate(maxCol + 1)(col => cells.getOrElse((row, col), null))
    }
  }

  // ------------------------------------------------------------- surface
  /** The workbook's sheet names, in BOUNDSHEET (tab) order. */
  def sheetNames(path: String): Seq[String] = {
    val s = workbookStream(Files.readAllBytes(Paths.get(path)))
    parseGlobals(s)._1.map(_.name)
  }

  /** The raw cell grid of one sheet (default: the first) — rows of
    * nullable strings, dense over `0..maxRow` × `0..maxCol` (xlrd's
    * `sheet.nrows`/`row_values` shape). */
  def readGrid(path: String, sheet: Option[String] = None)
      : Seq[Array[String]] = {
    val s = workbookStream(Files.readAllBytes(Paths.get(path)))
    val (sheets, shared) = parseGlobals(s)
    require(sheets.nonEmpty, s"$path: workbook has no sheets")
    val info = sheet match {
      case Some(want) => sheets.find(_.name == want).getOrElse(
        throw new IllegalArgumentException(
          s"$path: no sheet named '$want' " +
            s"(have ${sheets.map(_.name).mkString(", ")})"))
      case None => sheets.head
    }
    parseSheet(s, info.pos, shared)
  }

  /** Ingest one sheet with the SAME layout as the CSV-dump and xlsx
    * paths (`RawSheetReader.Layout`: header auto-detect, alias renames,
    * duplicate collapse, ensure-columns, project injection) — a user of
    * the reference pointing the engine at its real legacy `.xls` price
    * lists lands here, mirroring `Actualizar_Precios_de_Nexo.py:183-230`.
    * No Spark job runs before the frame's first action. */
  def readSheet(spark: SparkSession, path: String, proyecto: String,
                cfg: RawSheetReader.Config,
                sheet: Option[String] = None): DataFrame = {
    RawSheetReader.fromGrid(spark, readGrid(path, sheet), path, proyecto, cfg)
  }
}
