package perfbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Minimal legacy `.xls` writer for the benchmark's generated price lists:
  * one worksheet in a BIFF8 `Workbook` stream inside an OLE2 compound file
  * (MS-CFB v3, 512-byte sectors). Written from the public format layouts,
  * independently of the engine, so the benchmark feeds the reader files
  * that look like the ones Excel exports: a shared-string table split over
  * CONTINUE records, LABELSST cells for text, RK cells for small integers
  * and NUMBER cells for prices.
  */
object Xls {

  sealed trait Cell
  final case class Txt(s: String) extends Cell
  final case class Num(d: Double) extends Cell

  /** BIFF8 keeps a sheet under 65,536 rows. */
  val MaxRows = 65536

  private final class Buf {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Buf = { out.write(v & 0xFF); this }
    def u16(v: Int): Buf = { u8(v); u8(v >> 8) }
    def i32(v: Int): Buf = { u16(v); u16(v >> 16) }
    def f64(d: Double): Buf = {
      var bits = java.lang.Double.doubleToLongBits(d)
      var i = 0
      while (i < 8) { u8((bits & 0xFF).toInt); bits >>>= 8; i += 1 }
      this
    }
    def bytes(b: Array[Byte]): Buf = { out.write(b); this }
    def size: Int = out.size()
    def result: Array[Byte] = out.toByteArray
  }

  private val MaxRecData = 8224

  private def rec(b: Buf, id: Int, data: Array[Byte]): Unit = {
    b.u16(id).u16(data.length).bytes(data)
  }

  private def bof(b: Buf, substream: Int): Unit =
    rec(b, 0x0809, new Buf().u16(0x0600).u16(substream)
      .u16(0x0DBB).u16(0x07CC).i32(0).i32(0x0006).result)

  private def compressible(s: String): Boolean = s.forall(_ < 256)

  /** XLUnicodeString with a 16-bit length (SST entries). */
  private def uniString(s: String): Array[Byte] = {
    val b = new Buf().u16(s.length)
    if (compressible(s)) b.u8(0).bytes(s.getBytes(StandardCharsets.ISO_8859_1))
    else b.u8(1).bytes(s.getBytes(StandardCharsets.UTF_16LE))
    b.result
  }

  /** SST + CONTINUE records; a new CONTINUE starts at a string boundary. */
  private def sst(b: Buf, strings: Seq[String], total: Int): Unit = {
    val records = ArrayBuffer(new Buf().i32(total).i32(strings.size))
    strings.foreach { s =>
      val enc = uniString(s)
      require(enc.length <= MaxRecData, "shared string too long for one record")
      if (records.last.size + enc.length > MaxRecData) records += new Buf()
      records.last.bytes(enc)
    }
    rec(b, 0x00FC, records.head.result)
    records.tail.foreach(r => rec(b, 0x003C, r.result))
  }

  private def rkInt(v: Double): Option[Int] =
    if (v.isWhole && v >= -(1 << 29) && v < (1 << 29)) Some((v.toInt << 2) | 2)
    else None

  /** The BIFF8 workbook stream for one sheet. */
  def workbookStream(sheetName: String, rows: Seq[Array[Cell]]): Array[Byte] = {
    require(rows.size < MaxRows, s"${rows.size} rows exceed the BIFF8 sheet limit")
    val index = new java.util.HashMap[String, Integer]()
    val strings = ArrayBuffer[String]()
    var labels = 0
    val sheet = new Buf()
    bof(sheet, 0x0010)
    val nCols = if (rows.isEmpty) 0 else rows.map(_.length).max
    rec(sheet, 0x0200, new Buf().i32(0).i32(rows.size).u16(0).u16(nCols).u16(0).result)
    rows.zipWithIndex.foreach { case (cells, r) =>
      cells.zipWithIndex.foreach {
        case (null, _) =>
        case (Txt(s), c) =>
          var ix = index.get(s)
          if (ix == null) { ix = strings.size; index.put(s, ix); strings += s }
          labels += 1
          rec(sheet, 0x00FD, new Buf().u16(r).u16(c).u16(0x0F).i32(ix).result)
        case (Num(d), c) => rkInt(d) match {
          case Some(rk) => rec(sheet, 0x027E, new Buf().u16(r).u16(c).u16(0x0F).i32(rk).result)
          case None => rec(sheet, 0x0203, new Buf().u16(r).u16(c).u16(0x0F).f64(d).result)
        }
      }
    }
    rec(sheet, 0x000A, Array.emptyByteArray)

    def globals(sheetPos: Int): Array[Byte] = {
      val g = new Buf()
      bof(g, 0x0005)
      rec(g, 0x0042, new Buf().u16(1200).result) // CODEPAGE: UTF-16
      val name = new Buf().i32(sheetPos).u8(0).u8(0).u8(sheetName.length)
      if (compressible(sheetName))
        name.u8(0).bytes(sheetName.getBytes(StandardCharsets.ISO_8859_1))
      else name.u8(1).bytes(sheetName.getBytes(StandardCharsets.UTF_16LE))
      rec(g, 0x0085, name.result)
      sst(g, strings.toSeq, labels)
      rec(g, 0x000A, Array.emptyByteArray)
      g.result
    }
    val g = globals(0)
    val out = new Buf().bytes(globals(g.length)).bytes(sheet.result)
    // streams under 4096 bytes would belong in the mini stream; pad instead
    while (out.size < 4096) out.u8(0)
    out.result
  }

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF
  private val FatSect = 0xFFFFFFFD
  private val NoStream = 0xFFFFFFFF

  /** Wrap a stream of at least 4096 bytes as the `Workbook` stream of a
    * version-3 compound file: stream sectors, one directory sector, then
    * the FAT sectors, all listed in the header's DIFAT. */
  def compoundFile(stream: Array[Byte]): Array[Byte] = {
    require(stream.length >= 4096)
    val streamSectors = (stream.length + 511) / 512
    var fatSectors = 1
    while (fatSectors * 128 < streamSectors + 1 + fatSectors) fatSectors += 1
    require(fatSectors <= 109, "workbook too large for a header-only DIFAT")
    val dirSector = streamSectors
    val fatStart = streamSectors + 1

    val out = new Buf()
    out.bytes(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    out.bytes(new Array[Byte](16)).u16(0x003E).u16(0x0003).u16(0xFFFE)
      .u16(9).u16(6).bytes(new Array[Byte](6))
      .i32(0).i32(fatSectors).i32(dirSector).i32(0).i32(4096)
      .i32(EndOfChain).i32(0).i32(EndOfChain).i32(0)
    (0 until 109).foreach(i => out.i32(if (i < fatSectors) fatStart + i else FreeSect))

    out.bytes(stream).bytes(new Array[Byte](streamSectors * 512 - stream.length))

    def dirEntry(name: String, tpe: Int, child: Int, start: Int, size: Int): Unit = {
      val n = name.getBytes(StandardCharsets.UTF_16LE)
      out.bytes(n).bytes(new Array[Byte](64 - n.length))
      out.u16(if (name.isEmpty) 0 else n.length + 2).u8(tpe).u8(1)
      out.i32(NoStream).i32(NoStream).i32(child)
      out.bytes(new Array[Byte](16)).i32(0).bytes(new Array[Byte](16))
      out.i32(start).i32(size).i32(0)
    }
    dirEntry("Root Entry", 5, 1, EndOfChain, 0)
    dirEntry("Workbook", 2, NoStream, 0, stream.length)
    dirEntry("", 0, NoStream, 0, 0)
    dirEntry("", 0, NoStream, 0, 0)

    val fat = new Buf()
    (0 until streamSectors).foreach(i =>
      fat.i32(if (i == streamSectors - 1) EndOfChain else i + 1))
    fat.i32(EndOfChain) // directory
    (0 until fatSectors).foreach(_ => fat.i32(FatSect))
    while (fat.size < fatSectors * 512) fat.i32(FreeSect)
    out.bytes(fat.result)
    out.result
  }

  /** Write one sheet as a `.xls` file; returns the byte count. */
  def write(path: java.nio.file.Path, sheetName: String,
            rows: Seq[Array[Cell]]): Long = {
    val bytes = compoundFile(workbookStream(sheetName, rows))
    val os = new FileOutputStream(path.toFile)
    try os.write(bytes) finally os.close()
    bytes.length.toLong
  }
}
