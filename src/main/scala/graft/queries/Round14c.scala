package graft.queries

import org.apache.spark.sql.functions._

import graft.ingest.{RawSheetReader, XlsxSheetReader}
import graft.operators.UnionByName
import graft.sinks.XlsxWriter

/** Round-14 third batch: the native-Excel round trip as an oracle
  * gate — REAL `.xlsx` bytes written by [[XlsxWriter]] (JDK-only OPC
  * zip + SpreadsheetML), read back through [[XlsxSheetReader]]'s
  * tolerant core, hash-matched against the source content. Round 13
  * gated the parquet/JSON/CSV sinks the same way; this closes the one
  * container family that was still spec-only at the gate level
  * (XlsxWriterSpec/XlsxIngestSpec pin it structurally). */
object Round14c extends GateBatch {

  /** Canonical column names only — the writer emits them, the reader's
    * header scan finds them at row 0 (they ARE candidates). */
  private val xcfg = RawSheetReader.Config(
    aliases = Seq(
      "Numero de inmueble" -> Nil,
      "Precio de lista" -> Nil,
      "Estado de inmueble" -> Nil,
      "Area total" -> Nil),
    ensure = Seq("Numero de inmueble", "Precio de lista",
      "Estado de inmueble", "Area total"))

  private def outDir(name: String, dir: String): String =
    new java.io.File(s"target/gates/r14/${name}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath

  val defs: Map[String, Q] = Map(

    // write one REAL workbook per project, read every file back
    // through the tolerant xlsx core, return the unioned content: a
    // hash match pins typed-cell emission (numeric vs inline string,
    // omitted null cells), sheet naming, the zip container, header
    // detection on the read side, and the values themselves
    "ingest_xlsx_roundtrip" -> ((s, dir) => {
      val out = outDir("xlsx_roundtrip", dir)
      val units = tbl(s, dir, "part").select(
        col("p_brand").as("Proyecto"),
        col("p_partkey").cast("string").as("Numero de inmueble"),
        when(col("p_size") % 7 === 0, lit(null))
          .otherwise(col("p_type")).as("Estado de inmueble"),
        col("p_retailprice").as("Precio de lista"),
        col("p_size").cast("double").as("Area total"))
      // (project, path) pairs straight from the writer — the project a
      // file belongs to travels WITH the file (round-14 ADVICE: the
      // prior positional zip against a separately collected project
      // list relied on two sorted-distinct orders staying in lockstep)
      val sheets = XlsxWriter.perProjectXlsx(units, "Proyecto", out)
        .map { case (p, f) => XlsxSheetReader.readSheet(s, f, p, xcfg) }
      UnionByName(sheets).select(
        col("Proyecto").as("proyecto"),
        col("Numero de inmueble").as("numero"),
        col("Estado de inmueble").as("estado"),
        expr("try_cast(`Precio de lista` AS DOUBLE)").as("precio_num"),
        expr("try_cast(`Area total` AS DOUBLE)").as("area_num"))
        .orderBy("proyecto", "numero")
    }))

  val oracles: Map[String, String] = Map(

    "ingest_xlsx_roundtrip" ->
      """SELECT p_brand AS proyecto, p_partkey::VARCHAR AS numero,
           CASE WHEN p_size % 7 = 0 THEN NULL ELSE p_type END AS estado,
           p_retailprice AS precio_num, p_size::DOUBLE AS area_num
         FROM part ORDER BY proyecto, numero""")
}
