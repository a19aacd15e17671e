package graft.ingest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tolerant raw-sheet ingestion (SURVEY.md §2.1 S1-S3, §2.2 P1-P3).
  *
  * Reproduces the reference's Excel-dump semantics: junk preamble rows,
  * header auto-detection by alias scan over the first 15 rows (fallback
  * row index 4), whitespace/accent header cleaning, duplicate-header
  * disambiguation (`name_2` scheme) and collapse, alias-to-canonical
  * renaming (first alias present wins), ensure-columns, literal project
  * injection, and a stable per-file row ordinal (`_file_row`) that later
  * stages use for `_rowid` and keep-last dedup.
  *
  * This module holds the one header decision, [[Layout.resolve]]: a pure
  * driver function over a sheet's first <=15 rows that every tolerant
  * reader uses — [[readSheet]] (CSV dumps), [[fromGrid]] (the `.xls` and
  * `.xlsx` grids) and the DSv2 `graft.sources.RawSheetSource`. Everything
  * row-wise stays distributed: each row is projected onto the layout by
  * [[firstNonNull]] over its column's cell indices.
  */
object RawSheetReader {

  /** Alias table: canonical name -> accepted aliases, in priority order.
    * Mirrors `Actualizar_Precios_de_Nexo.py:60-65`. */
  case class Config(
      aliases: Seq[(String, Seq[String])],
      ensure: Seq[String] = Nil,
      maxHeaderScan: Int = 15,
      fallbackHeaderRow: Int = 4)

  /** Key normalization for header matching (`_norm`, ref `:76-78`). */
  def norm(s: String): String =
    if (s == null) null else s.trim.toLowerCase

  /** Header cleaning: collapse whitespace, strip accents, name blanks,
    * disambiguate duplicates as `name_2`, `name_3` (ref `pj:40-62`). */
  def cleanHeaders(raw: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Set[String]()
    raw.map { c =>
      val base0 = Option(c).getOrElse("").replaceAll("\\s+", " ").trim
      val base1 = base0.map {
        case 'á' => 'a'; case 'é' => 'e'; case 'í' => 'i'
        case 'ó' => 'o'; case 'ú' => 'u'
        case 'Á' => 'A'; case 'É' => 'E'; case 'Í' => 'I'
        case 'Ó' => 'O'; case 'Ú' => 'U'
        case ch => ch
      }
      val base = if (base1.isEmpty) "col_sin_nombre" else base1
      var name = base
      var k = 2
      while (seen.contains(name)) { name = s"${base}_$k"; k += 1 }
      seen += name
      name
    }
  }

  /** Minimal quote-aware CSV line split (the raw dumps are simple). */
  def splitCsvLine(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (ch == '"') {
        if (inQuotes && i + 1 < line.length && line.charAt(i + 1) == '"') {
          sb.append('"'); i += 1
        } else inQuotes = !inQuotes
      } else if (ch == ',' && !inQuotes) {
        out += sb.toString; sb.clear()
      } else sb.append(ch)
      i += 1
    }
    out += sb.toString
    out.toArray
  }

  /** One output column: the raw cell indices coalesced first-non-null
    * (empty = ensure-injected, always null). */
  case class OutCol(name: String, cells: Seq[Int])

  /** The header decision for one sheet: the header row's index and the
    * output columns after `_file_row`, in order. `Proyecto` is among
    * them and every reader fills it with the literal, not with cells. */
  case class Layout(headerRow: Int, cols: Seq[OutCol]) {
    def schema: StructType = StructType(
      StructField("_file_row", LongType, nullable = false) +:
        cols.map(c => StructField(c.name, StringType)))
  }

  object Layout {

    /** The layout of a sheet from its first rows (only the first
      * `maxHeaderScan` of `head` are read), the reference's per-file loop
      * (`Actualizar_Precios_de_Nexo.py:149-230`) as one driver function:
      *
      *  - header row: the first row holding a canonical name or alias
      *    (`norm`-compared), else `fallbackHeaderRow`; the names are
      *    `cleanHeaders`ed;
      *  - P1: for each canonical name absent from the header, the first
      *    alias present (exact name) takes its place;
      *  - F12: `name`, `name_2`, ... groups collapse into one column at
      *    `name`'s slot, first-non-null over (`name`, then the suffixed
      *    members in string order) — the reference's bfill-axis-1. Groups
      *    nest: `name_2_2` joins `name_2`, which joins `name`, so every
      *    chain collapses at its outermost present base and every header
      *    cell reaches exactly one column (`cleanHeaders` writes the raw
      *    `a,a,a_2` as `a,a_2,a_2_2`: three spellings of one field);
      *  - P2: missing `ensure` columns are appended, all-null;
      *  - reserved names: `_file_row` is the line ordinal, so a sheet's
      *    own `_file_row` is dropped; a sheet's own `Proyecto` keeps its
      *    slot and is overwritten by the literal (pandas'
      *    `df["Proyecto"] = ...`), else `Proyecto` goes last. */
    def resolve(head: Seq[Array[String]], path: String,
                cfg: Config): Layout = {
      val rows = head.take(cfg.maxHeaderScan)
      val candidates = cfg.aliases.flatMap { case (c, al) => c +: al }
        .map(norm).toSet
      val found = rows.indexWhere(_.exists(c => candidates.contains(norm(c))))
      val hdr = if (found >= 0) found else cfg.fallbackHeaderRow
      if (hdr >= rows.length) throw new IllegalArgumentException(
        s"$path: header row $hdr not found in first ${cfg.maxHeaderScan} rows")

      var names = cleanHeaders(rows(hdr).toSeq)
      cfg.aliases.foreach { case (canon, aliases) =>
        if (!names.contains(canon))
          aliases.find(names.contains).foreach { a =>
            names = names.map(n => if (n == a) canon else n)
          }
      }
      val dupPattern = "^(.*)_(\\d+)$".r
      def root(n: String): String = n match {
        case dupPattern(b, _) if names.contains(b) => root(b)
        case _ => n
      }
      val roots = names.map(root)
      val sheetCols = names.zipWithIndex.collect {
        case (n, i) if roots(i) == n =>
          OutCol(n, i +: names.indices
            .filter(j => j != i && roots(j) == n).sortBy(names))
      }
      val withEnsure = sheetCols ++ cfg.ensure.distinct
        .filterNot(e => sheetCols.exists(_.name == e)).map(OutCol(_, Nil))
      val cols = withEnsure.filterNot(_.name == "_file_row")
      Layout(hdr,
        if (cols.exists(_.name == "Proyecto")) cols
        else cols :+ OutCol("Proyecto", Nil))
    }
  }

  /** The first non-null, non-empty cell among `idx` (out-of-range cells
    * are null: short rows pad, long rows truncate — PERMISSIVE). */
  def firstNonNull(cells: Array[String], idx: Array[Int]): String = {
    var j = 0
    while (j < idx.length) {
      val i = idx(j)
      if (i < cells.length && cells(i) != null && cells(i).nonEmpty)
        return cells(i)
      j += 1
    }
    null
  }

  /** Read one raw sheet dump into a canonical string-typed DataFrame. */
  def readSheet(spark: SparkSession, path: String, proyecto: String,
                cfg: Config): DataFrame = {
    // stable line ordinal: zipWithIndex follows file order; textFile
    // decompresses by extension, so the head read goes through it too
    val lines = spark.sparkContext.textFile(path).zipWithIndex()
    val layout = Layout.resolve(
      lines.filter(_._2 < cfg.maxHeaderScan).keys.collect()
        .map(splitCsvLine).toSeq, path, cfg)
    project(spark, layout, proyecto, lines
      .filter(_._2 > layout.headerRow)
      .map { case (l, i) => (i, splitCsvLine(l)) })
  }

  /** Read a sheet already decoded on the driver (the `.xls` and `.xlsx`
    * grids): the layout comes from the grid's first rows with no Spark
    * job, and only the rows past the header are parallelized. */
  def fromGrid(spark: SparkSession, grid: Seq[Array[String]], path: String,
               proyecto: String, cfg: Config): DataFrame = {
    val layout = Layout.resolve(grid, path, cfg)
    val body = grid.zipWithIndex.drop(layout.headerRow + 1)
      .map { case (r, i) => (i.toLong, r) }
    project(spark, layout, proyecto, spark.sparkContext.parallelize(body))
  }

  /** Project (ordinal, cells) rows onto the layout: one `map` builds
    * the sheet's columns under positional names, and one `select` names
    * them and puts the `Proyecto` literal in its slot — a literal in the
    * plan, so Catalyst folds predicates on it. */
  private def project(spark: SparkSession, layout: Layout, proyecto: String,
                      rows: RDD[(Long, Array[String])]): DataFrame = {
    val cols = layout.cols.zipWithIndex
    val sheetCols = cols.filter(_._1.name != "Proyecto")
    val idx = sheetCols.map(_._1.cells.toArray).toArray
    val schema = StructType(StructField("_file_row", LongType, nullable = false) +:
      sheetCols.map { case (_, k) => StructField(s"_c$k", StringType) })
    val df = spark.createDataFrame(rows.map { case (i, cells) =>
      Row.fromSeq(i +: idx.toSeq.map(firstNonNull(cells, _)))
    }, schema)
    df.select(col("_file_row") +: cols.map {
      case (c, _) if c.name == "Proyecto" => lit(proyecto).as(c.name)
      case (c, k) => col(s"_c$k").as(c.name)
    }: _*)
  }
}
