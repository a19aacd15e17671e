package graft.queries

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.RawSheetReader
import graft.pipeline.PriceUpdate
import graft.sources.RawSheetSource

/** Round-14 batch: the INGEST tier (SURVEY §2.1 S1–S3, §2.2 P1/P2,
  * §2.6 O3, §2.7 F12) as oracle gates — the last spec-only family from
  * the round-13 verdict, plus the full E1 ingest→resumen seam as one
  * hash-checked gate.
  *
  * Shape: every gate reads a DETERMINISTIC raw-sheet fixture (junk
  * preamble rows, alias headers at varying positions, duplicate
  * columns, accented names, mixed-locale numerics — the dump pathology
  * the reference's tolerant loop handles, ref
  * `Actualizar_Precios_de_Nexo.py:84-91,149-179,191-227`) through the
  * REAL readers ([[RawSheetReader]] RDD path and the DSv2
  * [[graft.sources.RawSheetDataSource]]), while the DuckDB oracle
  * reads THE SAME FILE with `read_csv` under explicit skip/columns —
  * i.e. the oracle encodes where the header is and how the columns
  * resolve, and the Spark side must DISCOVER it. A hash match pins
  * header auto-detection (S2), header cleaning + `name_2` dedup (S3),
  * alias→canonical rename (P1), duplicate-column collapse (O3/F12),
  * ensure-columns (P2), project injection (P3) and the `_file_row`
  * ordinal in one round trip.
  *
  * The fixtures are written by [[Round14Fixtures]] under `target/` at
  * gate time (the Spark pass always runs before the DuckDB pass), so
  * both engines read identical bytes. Content is pure arithmetic on
  * the row index — no randomness, no timestamps — so every run of
  * every round regenerates byte-identical files.
  */
object Round14 extends GateBatch {

  /** Canonical alias table for the gate fixtures — same shape the
    * demo/production config uses (ref `:60-65`), plus the `Area total`
    * family so the accent-folded header lands on a canonical name. */
  private[graft] val cfg: RawSheetReader.Config = RawSheetReader.Config(
    aliases = Seq(
      "Numero de inmueble" -> Seq("Número de inmueble", "N° inmueble",
        "nombre", "unidad", "codigo"),
      "Precio de lista" -> Seq("precio de lista", "precio", "precio lista"),
      "Estado de inmueble" -> Seq("estado de inmueble", "estado",
        "estado comercial"),
      "Area total" -> Seq("area total", "superficie"),
      "Tipologia" -> Seq("Tipología", "tipologia")),
    ensure = Seq("Numero de inmueble", "Precio de lista",
      "Estado de inmueble", "Area total", "Tipologia"))

  private def fx(s: SparkSession): String = Round14Fixtures.ensure()

  private def viaDsv2(s: SparkSession, path: String,
                      proyecto: String): DataFrame =
    s.read.format("graft.sources.RawSheetDataSource")
      .options(RawSheetSource.options(cfg, proyecto))
      .load(path)

  val defs: Map[String, Q] = Map(

    // S1+S2+S3+P1+P3+O3/F12 — the tolerant-ingest round trip: junk
    // preamble, header found by alias scan at row 4, whitespace +
    // accent header cleaning, duplicate 'Precio de lista' collapsed
    // first-non-null, unnamed trailing column, short rows padded.
    // The oracle reads the same CSV with skip=5 and fixed columns —
    // the Spark side must DERIVE that resolution
    "ingest_raw_sheet" -> ((s, dir) => {
      val root = fx(s)
      RawSheetReader.readSheet(s, s"$root/torre_a.csv", "Capadocia", cfg)
        .select(col("_file_row").as("file_row"),
          col("Numero de inmueble").as("numero"),
          col("Precio de lista").as("precio"),
          col("Estado de inmueble").as("estado"),
          col("Area total").as("area"),
          col("Tipologia").as("tipologia"),
          col("col_sin_nombre").as("obs"),
          col("Proyecto").as("proyecto"))
        .orderBy("file_row")
    }),

    // S2 through the DSv2 source: two sheets with headers at DIFFERENT
    // positions (row 4 vs row 1) and different column orders/subsets,
    // resolved per file in inferSchema, unioned by name; the missing
    // 'Area total' on torre B materializes as the ensured null column
    "ingest_header_detect" -> ((s, dir) => {
      val root = fx(s)
      val a = viaDsv2(s, s"$root/torre_a.csv", "Capadocia")
      val b = viaDsv2(s, s"$root/torre_b.csv", "Matera")
      val cols = Seq(col("Proyecto").as("proyecto"),
        col("_file_row").as("file_row"),
        col("Numero de inmueble").as("numero"),
        col("Precio de lista").as("precio"),
        col("Estado de inmueble").as("estado"),
        col("Area total").as("area"),
        col("Tipologia").as("tipologia"))
      a.select(cols: _*).unionByName(b.select(cols: _*))
        .orderBy("proyecto", "file_row")
    }),

    // S2 fallback — no alias anywhere in the first 15 rows: the header
    // is TAKEN at the configured fallback index (row 4, ref `:196-198`),
    // raw names survive cleaning, ensure-columns add the canonical
    // schema as nulls
    "ingest_header_fallback" -> ((s, dir) => {
      val root = fx(s)
      RawSheetReader.readSheet(s, s"$root/torre_c.csv", "SinAlias", cfg)
        .select(col("_file_row").as("file_row"),
          col("Lote").as("lote"),
          col("Monto").as("monto"),
          col("Observacion").as("observacion"),
          col("Numero de inmueble").as("numero"),
          col("Proyecto").as("proyecto"))
        .orderBy("file_row")
    }),

    // O3/F12 focused — THREE copies of 'Precio de lista' (cleaned to
    // base/_2/_3), each null on a different residue pattern: the
    // collapsed value must be the row-wise FIRST non-null in suffix
    // order (the reference's bfill-axis-1, ref `:149-179`); 'codigo'
    // exercises the alias rename on the key column
    "ingest_dup_collapse" -> ((s, dir) => {
      val root = fx(s)
      RawSheetReader.readSheet(s, s"$root/dup_cols.csv", "DupFix", cfg)
        .select(col("Numero de inmueble").as("numero"),
          col("Precio de lista").as("precio"),
          col("Estado de inmueble").as("estado"))
        .orderBy("numero")
    }),

    // E1 end-to-end (S1→A2): raw fixtures → RawSheetReader → union →
    // canonicalization → tower prefix → key-norm → sperant argmax-by-
    // date dedup → LEFT broadcast join → PreferNew coalesce update →
    // tolerant diff flags → per-project resumen — the full
    // `Actualizar_Precios_de_Nexo.py:186-464` flow as ONE hash gate;
    // the oracle replays every stage in SQL over the same three CSVs
    "pipeline_ingest_e2e" -> ((s, dir) => {
      val root = fx(s)
      val sheets = Seq(
        RawSheetReader.readSheet(s, s"$root/torre_a.csv", "Capadocia", cfg),
        RawSheetReader.readSheet(s, s"$root/torre_b.csv", "Matera", cfg))
      val sperant = s.read.option("header", "true")
        .csv(s"$root/sperant.csv")
        .withColumn("_row", col("_row").cast("long"))
      // no r.close(): the frame this gate returns reads the run's pin
      val r = PriceUpdate.run(sheets, sperant)
      r.resumen.select(
        col("Proyecto").as("proyecto"),
        col("Registros").as("registros"),
        col("Con_Match").as("con_match"),
        col("Sin_Match").as("sin_match"),
        col("Cambios").as("cambios"),
        col("Cambios_Precio").as("cambios_precio"),
        col("Cambios_Estado").as("cambios_estado"),
        col("Sin_Cambio").as("sin_cambio"),
        col("%_Con_Match").as("pct_con_match"),
        col("%_Sin_Match").as("pct_sin_match"),
        col("%_Cambios").as("pct_cambios"),
        col("%_Sin_Cambio").as("pct_sin_cambio"))
        .orderBy("proyecto")
    }))

  // ---- oracle SQL ------------------------------------------------

  private def root: String = Round14Fixtures.root

  /** torre_a via read_csv with the EXPECTED resolution baked in:
    * header at row 4 (skip 5 lines), 7 raw columns. */
  private def torreACsv: String =
    s"""read_csv('$root/torre_a.csv', header=false, skip=5,
        all_varchar=true, null_padding=true, auto_detect=false,
        sep=',', quote='"', columns={'c1':'VARCHAR','c2':'VARCHAR',
          'c3':'VARCHAR','c4':'VARCHAR','c5':'VARCHAR','c6':'VARCHAR',
          'c7':'VARCHAR'})"""

  private def torreBCsv: String =
    s"""read_csv('$root/torre_b.csv', header=false, skip=2,
        all_varchar=true, null_padding=true, auto_detect=false,
        sep=',', quote='"', columns={'c1':'VARCHAR','c2':'VARCHAR',
          'c3':'VARCHAR','c4':'VARCHAR'})"""

  /** F5 canonicalization of a unit string, as SQL (fixture uses only
    * integral forms, so double→long truncation never rounds). */
  private def canonSql(c: String): String =
    s"""CASE WHEN regexp_matches(trim($c), '^\\d+(\\.\\d+)?$$')
         THEN CAST(CAST(trim($c) AS DOUBLE) AS BIGINT)::VARCHAR
         ELSE trim($c) END"""

  /** F3 locale parse, as SQL — the fixture carries only the
    * dot-thousands + comma-decimal form, the N/A sentinel and empties,
    * so the replay is one replace chain. */
  private def localeSql(c: String): String =
    s"""CASE WHEN $c IS NULL OR $c = 'N/A' THEN NULL
         ELSE replace(replace($c, '.', ''), ',', '.')::DOUBLE END"""

  val oracles: Map[String, String] = Map(

    "ingest_raw_sheet" ->
      s"""SELECT (4 + row_number() OVER (ORDER BY c1))::BIGINT AS file_row,
           c1 AS numero, coalesce(c2, c3) AS precio, c4 AS estado,
           c5 AS area, c6 AS tipologia, c7 AS obs,
           'Capadocia' AS proyecto
         FROM $torreACsv
         ORDER BY file_row""",

    "ingest_header_detect" ->
      s"""WITH a AS (SELECT 'Capadocia' AS proyecto,
             (4 + row_number() OVER (ORDER BY c1))::BIGINT AS file_row,
             c1 AS numero, coalesce(c2, c3) AS precio, c4 AS estado,
             c5 AS area, c6 AS tipologia
           FROM $torreACsv),
         b AS (SELECT 'Matera' AS proyecto,
             (1 + row_number() OVER (ORDER BY c1))::BIGINT AS file_row,
             c1 AS numero, c2 AS precio, c3 AS estado,
             CAST(NULL AS VARCHAR) AS area, c4 AS tipologia
           FROM $torreBCsv)
         SELECT * FROM a UNION ALL SELECT * FROM b
         ORDER BY proyecto, file_row""",

    "ingest_header_fallback" ->
      s"""SELECT (4 + row_number() OVER (ORDER BY c1))::BIGINT AS file_row,
           c1 AS lote, c2 AS monto, c3 AS observacion,
           CAST(NULL AS VARCHAR) AS numero, 'SinAlias' AS proyecto
         FROM read_csv('$root/torre_c.csv', header=false, skip=5,
           all_varchar=true, null_padding=true, auto_detect=false,
           sep=',', quote='"',
           columns={'c1':'VARCHAR','c2':'VARCHAR','c3':'VARCHAR'})
         ORDER BY file_row""",

    "ingest_dup_collapse" ->
      s"""SELECT c1 AS numero, coalesce(c2, c3, c4) AS precio,
           c5 AS estado
         FROM read_csv('$root/dup_cols.csv', header=false, skip=1,
           all_varchar=true, null_padding=true, auto_detect=false,
           sep=',', quote='"',
           columns={'c1':'VARCHAR','c2':'VARCHAR','c3':'VARCHAR',
                    'c4':'VARCHAR','c5':'VARCHAR'})
         ORDER BY numero""",

    "pipeline_ingest_e2e" ->
      s"""WITH a AS (SELECT 'Capadocia' AS proyecto, c1 AS numero,
             coalesce(c2, c3) AS precio, c4 AS estado, c6 AS tipo
           FROM $torreACsv),
         b AS (SELECT 'Matera' AS proyecto, c1 AS numero, c2 AS precio,
             c3 AS estado, c4 AS tipo
           FROM $torreBCsv),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
         cn AS (SELECT proyecto, estado, tipo,
             ${canonSql("numero")} AS nc,
             ${localeSql("precio")} AS antes
           FROM u),
         tw AS (SELECT proyecto, estado, antes,
             CASE WHEN tipo IS NOT NULL
                 AND upper(substr(trim(tipo), 1, 1)) IN ('A', 'B')
                 AND NOT regexp_matches(upper(trim(nc)), '^[AB][0-9]+$$')
                 AND nc IS NOT NULL
               THEN upper(substr(trim(tipo), 1, 1)) || trim(nc)
               ELSE nc END AS unidad
           FROM cn),
         k AS (SELECT *, lower(trim(proyecto)) AS kp,
             lower(trim(unidad)) AS kn FROM tw),
         sp AS (SELECT lower(trim(nombre_proyecto)) AS kp,
             lower(trim(nombre)) AS kn,
             try_cast(precio_lista AS DOUBLE) AS p_new,
             estado_comercial AS e_new,
             row_number() OVER (
               PARTITION BY lower(trim(nombre_proyecto)),
                            lower(trim(nombre))
               ORDER BY try_cast(fecha_actualizacion AS TIMESTAMP)
                 DESC NULLS LAST, _row::BIGINT DESC) AS rn
           FROM read_csv('$root/sperant.csv', header=true,
             all_varchar=true)),
         spd AS (SELECT kp, kn, p_new, e_new FROM sp WHERE rn = 1),
         j AS (SELECT k.proyecto, k.antes, k.estado,
             spd.kn IS NOT NULL AS tiene_match,
             coalesce(spd.p_new, k.antes) AS despues,
             coalesce(spd.e_new, k.estado) AS estado_d
           FROM k LEFT JOIN spd ON k.kp = spd.kp AND k.kn = spd.kn),
         f AS (SELECT proyecto, tiene_match,
             CASE WHEN antes IS NULL AND despues IS NULL THEN false
                  WHEN antes IS NULL OR despues IS NULL THEN true
                  ELSE NOT (abs(antes - despues) <=
                    1e-8 + 1e-5 * abs(despues)) END AS cp,
             NOT (estado IS NOT DISTINCT FROM estado_d) AS ce
           FROM j),
         g AS (SELECT proyecto, count(*)::BIGINT AS registros,
             sum(CASE WHEN tiene_match THEN 1 ELSE 0 END)::BIGINT
               AS con_match,
             sum(CASE WHEN tiene_match THEN 0 ELSE 1 END)::BIGINT
               AS sin_match,
             sum(CASE WHEN cp OR ce THEN 1 ELSE 0 END)::BIGINT
               AS cambios,
             sum(CASE WHEN cp THEN 1 ELSE 0 END)::BIGINT
               AS cambios_precio,
             sum(CASE WHEN ce THEN 1 ELSE 0 END)::BIGINT
               AS cambios_estado,
             sum(CASE WHEN NOT (cp OR ce) AND tiene_match
               THEN 1 ELSE 0 END)::BIGINT AS sin_cambio
           FROM f GROUP BY 1)
         SELECT proyecto, registros, con_match, sin_match, cambios,
           cambios_precio, cambios_estado, sin_cambio,
           round(con_match::DOUBLE / registros, 4) AS pct_con_match,
           round(sin_match::DOUBLE / registros, 4) AS pct_sin_match,
           round(cambios::DOUBLE / registros, 4) AS pct_cambios,
           round(sin_cambio::DOUBLE / registros, 4) AS pct_sin_cambio
         FROM g ORDER BY proyecto""")
}

/** Deterministic raw-sheet fixture family for the round-14 ingest
  * gates. Pure functions of the row index — every invocation writes
  * byte-identical UTF-8 files, so the Spark pass (which writes them)
  * and the later DuckDB pass read the same bytes at every SF.
  *
  * Pathology coverage, per file:
  *  - `torre_a.csv`  — 4 junk preamble lines; header at row 4 found by
  *    ALIAS SCAN (`N° inmueble`); duplicate `Precio de lista` columns;
  *    multi-space header (`Estado  de   inmueble`); accented headers
  *    (`Área total`, `Tipología`); an UNNAMED trailing column; quoted
  *    es-locale numerics (`"123.456,78"`, `"61,1"`); empty cells;
  *    SHORT rows (4 of 7 fields) padded with nulls.
  *  - `torre_b.csv`  — header at row 1 (different position), alias
  *    names (`unidad`, `precio`, `estado`), no `Area total` column
  *    (ensure-column path), `N/A` price sentinels.
  *  - `torre_c.csv`  — NO alias anywhere: header taken at the
  *    FALLBACK row 4, raw names kept.
  *  - `dup_cols.csv` — THREE copies of `Precio de lista`, each null on
  *    a different residue, pinning first-non-null collapse ORDER.
  *  - `sperant.csv`  — the CRM side for the E1 seam: duplicate keys
  *    with distinct timestamps (argmax-by-date dedup), case/whitespace
  *    key variants, an unmatched project.
  */
object Round14Fixtures {

  val root: String =
    new java.io.File("target/gates/r14/fixtures").getAbsolutePath

  @volatile private var written = false

  /** es-PE money string: dot thousands, comma decimal, 2-digit cents. */
  private def esFmt(intPart: Long, cents: Int): String = {
    val grouped = intPart.toString.reverse.grouped(3).mkString(".").reverse
    f"$grouped,$cents%02d"
  }

  private def q(s: String): String = "\"" + s + "\""

  private[queries] def torreALines: Seq[String] = {
    val pre = Seq(
      "REPORTE GENERAL DE UNIDADES,,,,,,",
      ",,,,,,",
      "Generado: 2024-03-01,,,,,,",
      "Moneda: PEN,,,,,,")
    val hdr = "N° inmueble,Precio de lista,Precio de lista," +
      "Estado  de   inmueble,Área total,Tipología,"
    val rows = (1 to 48).map { i =>
      val num = if (i % 6 == 0) s"${100 + i}.0" else s"${100 + i}"
      val p1 = if (i % 3 == 0) "" else q(esFmt(100000 + i * 137, i % 100))
      val p2 = if (i % 2 == 0) q(esFmt(900000 + i * 211, (i * 3) % 100))
        else ""
      val est = if (i % 7 == 0) ""
        else Seq("Disponible", "Vendido", "Separado")(i % 3)
      if (i % 11 == 0) s"$num,$p1,$p2,$est"
      else {
        val area = q(s"${60 + i},${i % 10}")
        val tipo = Seq("A-10", "B-20", "C-30")(i % 3)
        val obs = if (i % 4 == 0) "" else s"nota $i"
        s"$num,$p1,$p2,$est,$area,$tipo,$obs"
      }
    }
    pre ++ Seq(hdr) ++ rows
  }

  private[queries] def torreBLines: Seq[String] = {
    val pre = Seq("INVENTARIO GENERAL - TORRE B,,,")
    val hdr = "unidad,precio,estado,Tipología"
    val rows = (1 to 30).map { i =>
      val num = s"${200 + i}"
      val p = if (i % 5 == 0) "N/A"
        else if (i % 4 == 0) ""
        else q(esFmt(500000 + i * 319, (i * 7) % 100))
      val est = Seq("Disponible", "Separado")(i % 2)
      val tipo = Seq("A-1", "B-2", "C-3")(i % 3)
      s"$num,$p,$est,$tipo"
    }
    pre ++ Seq(hdr) ++ rows
  }

  private[queries] def torreCLines: Seq[String] = {
    val pre = Seq(
      "HOJA SIN FORMATO,,",
      ",,",
      "Origen: migracion legada,,",
      ",,")
    val hdr = "Lote,Monto,Observacion"
    val rows = (1 to 12).map(i => f"L-$i%02d,${300 + i * 11},detalle $i")
    pre ++ Seq(hdr) ++ rows
  }

  private[queries] def dupColsLines: Seq[String] = {
    val hdr = "codigo,Precio de lista,Precio de lista,Precio de lista,estado"
    val rows = (1 to 24).map { i =>
      val c2 = if (i % 2 == 0) s"${i * 10 + 1}" else ""
      val c3 = if (i % 3 == 0) s"${i * 10 + 2}" else ""
      val c4 = if (i % 4 == 0) s"${i * 10 + 3}" else ""
      f"D$i%03d,$c2,$c3,$c4,estado_${i % 3}"
    }
    Seq(hdr) ++ rows
  }

  /** CRM-side fixture for the E1 seam. `nombre` values replay the
    * sheet side's canon+tower derivation (computed here with the same
    * arithmetic), with case/whitespace noise the key-norm must absorb;
    * two keys carry DUPLICATE rows with distinct timestamps so the
    * argmax-by-date dedup decides which price wins. */
  private[queries] def sperantLines: Seq[String] = {
    def unitA(i: Int): String = {
      val num = s"${100 + i}" // canonUnit strips the '.0' variants
      if (i % 11 == 0) num // short row: no tipologia, no prefix
      else i % 3 match {
        case 0 => s"A$num"
        case 1 => s"B$num"
        case _ => num
      }
    }
    def unitB(i: Int): String = {
      val num = s"${200 + i}"
      i % 3 match {
        case 0 => s"A$num"
        case 1 => s"B$num"
        case _ => num
      }
    }
    val hdr = "nombre_proyecto,nombre,precio_lista,estado_comercial," +
      "fecha_actualizacion,_row"
    var row = 0
    def r(proy: String, nombre: String, precio: String, estado: String,
          fecha: String): String = {
      row += 1
      s"$proy,$nombre,$precio,$estado,$fecha,$row"
    }
    val aMatches = Seq(1, 2, 3, 4, 6, 9, 12, 15, 18, 21, 24, 27, 30, 36,
      42, 48).flatMap { i =>
      val base = (200000 + i * 531).toString + ".25"
      val est = if (i % 2 == 0) "vendido" else ""
      // i=4: price EQUAL to the sheet's parsed value and no estado —
      // the isClose path must count it as Sin_Cambio
      val precio = if (i == 4) "100548.04" else base
      val estado = if (i == 4) "" else est
      val noisy = i % 5 match {
        case 0 => s" ${unitA(i)} " // whitespace noise
        case 1 => unitA(i).toLowerCase // case noise
        case _ => unitA(i)
      }
      val main = r("Capadocia", noisy, precio, estado,
        f"2024-02-${(i % 27) + 1}%02d 00:00:00")
      if (i == 6 || i == 12)
        // duplicate key, EARLIER timestamp, decoy price — dedup must drop it
        Seq(main, r("Capadocia", unitA(i), "111111.11", "separado",
          "2024-01-05 00:00:00"))
      else Seq(main)
    }
    val bMatches = Seq(1, 2, 5, 10, 15, 20, 25).map { i =>
      r("Matera", unitB(i), (300000 + i * 977).toString + ".50",
        if (i % 3 == 0) "disponible" else "", f"2024-03-${i + 1}%02d 00:00:00")
    }
    val strays = Seq(
      r("Urbanzen", "U-1", "100.00", "disponible", "2024-01-01 00:00:00"),
      r("Urbanzen", "U-2", "200.00", "", "2024-01-02 00:00:00"))
    Seq(hdr) ++ aMatches ++ bMatches ++ strays
  }

  /** Write all fixtures once per JVM (idempotent — re-writes are
    * byte-identical, so concurrent callers and re-runs are safe). */
  def ensure(): String = {
    if (!written) synchronized {
      if (!written) {
        val dir = Paths.get(root)
        Files.createDirectories(dir)
        def write(name: String, lines: Seq[String]): Unit =
          Files.write(dir.resolve(name),
            (lines.mkString("\n") + "\n").getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.WRITE,
            StandardOpenOption.TRUNCATE_EXISTING)
        write("torre_a.csv", torreALines)
        write("torre_b.csv", torreBLines)
        write("torre_c.csv", torreCLines)
        write("dup_cols.csv", dupColsLines)
        write("sperant.csv", sperantLines)
        written = true
      }
    }
    root
  }
}
