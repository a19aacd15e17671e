package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.RawSheetReader
import graft.ingest.RawSheetReader.{Config, Layout}

/** DataSource V2 form of the tolerant raw-sheet ingest — the SOURCE tier
  * of the engine's Catalyst extension ladder (expression → optimizer
  * rule → physical operator → data source). It reads
  * [[graft.ingest.RawSheetReader]]'s layout (`RawSheetReader.Layout`,
  * the one header decision every tolerant reader makes), spec-pinned
  * row-for-row against `RawSheetReader.readSheet`, but packaged as a
  * `TableProvider` so sheets read like any table:
  *
  * {{{
  * spark.read.format("graft.sources.RawSheetDataSource")
  *   .options(RawSheetSource.options(cfg, proyecto = "Matera"))
  *   .load(path)
  * }}}
  *
  * What the V2 packaging buys over the RDD helper:
  *
  *  - COLUMN PRUNING reaches the reader ([[SupportsPushDownRequiredColumns]]):
  *    a `select("Proyecto", "Precio de lista")` builds only those cells
  *    per line — each layout column is a raw-cell index list, so pruned
  *    columns cost nothing per row (the RDD path materializes every
  *    column and prunes after).
  *  - The layout is resolved from the first `maxHeaderScan` lines in
  *    `inferSchema`, once, on the driver, and cached in the table's
  *    schema.
  *  - An equality filter on `Proyecto` skips the whole file at planning.
  *
  * One [[InputPartition]] PER FILE: the `_file_row` ordinal is the
  * file's physical line order, which a mid-file split cannot know
  * without a scan anyway. Sheets are per-project exports — small files,
  * many of them — so parallelism comes from reading files in parallel,
  * not splitting one; at 100 TB this source is the INGEST edge, feeding
  * the parquet tables everything downstream scans.
  */
object RawSheetSource {
  // non-printing separators no real-world header contains: group sep
  // between alias groups / list entries, unit sep within a group
  private val GS = "\u001e"
  private val US = "\u001f"

  /** Encode a [[Config]] + proyecto into DSv2 string options. */
  def options(cfg: Config, proyecto: String): Map[String, String] = Map(
    "proyecto" -> proyecto,
    "aliases" -> cfg.aliases.map { case (canon, al) =>
      (canon +: al).mkString(US)
    }.mkString(GS),
    "ensure" -> cfg.ensure.mkString(US),
    "maxHeaderScan" -> cfg.maxHeaderScan.toString,
    "fallbackHeaderRow" -> cfg.fallbackHeaderRow.toString)

  private[sources] def decodeConfig(o: CaseInsensitiveStringMap): Config = {
    def split(s: String, sep: String): Seq[String] =
      if (s == null || s.isEmpty) Nil else s.split(sep, -1).toSeq
    Config(
      aliases = split(o.get("aliases"), GS).map { g =>
        val names = g.split(US, -1).toSeq
        names.head -> names.tail
      },
      ensure = split(o.get("ensure"), US),
      maxHeaderScan = o.getInt("maxHeaderScan", 15),
      fallbackHeaderRow = o.getInt("fallbackHeaderRow", 4))
  }

  /** The sheet's lines, decompressed by file extension (`.gz`, `.bz2`,
    * ...) through Hadoop's codec factory as `textFile` does, so the head
    * read and the partition reader see the text `RawSheetReader.readSheet`
    * sees. */
  private[sources] def openLines(path: String): BufferedReader = {
    val conf = new Configuration()
    val p = new HPath(path)
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p))
      .fold[InputStream](raw)(_.createInputStream(raw))
    new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
  }

  /** The sheet's [[RawSheetReader.Layout]], from its first
    * `maxHeaderScan` lines. */
  private[sources] def resolve(path: String, cfg: Config): Layout = {
    val in = openLines(path)
    val head = try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .take(cfg.maxHeaderScan).toVector
    finally in.close()
    Layout.resolve(head.map(RawSheetReader.splitCsvLine), path, cfg)
  }
}

/** The `TableProvider` entry point (use via
  * `.format("graft.sources.RawSheetDataSource")`). */
class RawSheetDataSource extends TableProvider {
  import RawSheetSource._

  private def pathOf(o: CaseInsensitiveStringMap): String = {
    val p = o.get("path")
    require(p != null && p.nonEmpty, "rawsheet source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(pathOf(options), decodeConfig(options)).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    new RawSheetTable(pathOf(o), decodeConfig(o),
      Option(o.get("proyecto")).getOrElse(""), schema)
  }
}

private[sources] class RawSheetTable(path: String, cfg: Config,
                                     proyecto: String, tschema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"rawsheet($path)"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RawSheetScanBuilder(path, cfg, proyecto, tschema)
}

private[sources] class RawSheetScanBuilder(path: String, cfg: Config,
                                           proyecto: String,
                                           full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = full
  private var skipFile = false
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The one filter a sheet file can answer WITHOUT reading a row:
    * equality on the per-file `Proyecto` literal. A mismatch skips the
    * whole file (zero input partitions) — the multi-sheet union then
    * reads only the requested project's files, the same file-skipping
    * a partitioned parquet store gets from its directory layout. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.EqualTo
    val (accepted, rest) = filters.partition {
      case EqualTo("Proyecto", v) => v != null
      case _ => false
    }
    accepted.foreach { case EqualTo(_, v) =>
      if (v.asInstanceOf[String] != proyecto) skipFile = true
    }
    pushed = accepted
    rest // everything else evaluates post-scan
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan =
    new RawSheetScan(path, cfg, proyecto, required, skipFile)
}

private[sources] class RawSheetScan(path: String, cfg: Config,
                                    proyecto: String, required: StructType,
                                    skipFile: Boolean = false)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"rawsheet($path)${if (skipFile) " [file-skipped: Proyecto mismatch]" else ""}"
  override def planInputPartitions(): Array[InputPartition] = {
    if (skipFile) return Array.empty
    val layout = RawSheetSource.resolve(path, cfg)
    // the projection each task builds: only REQUIRED fields, compiled
    // to cell-index lists (this is where pruning pays per row)
    val fields: Array[RawSheetPartition.Field] = required.fields.map { f =>
      f.name match {
        case "_file_row" => RawSheetPartition.RowOrdinal
        case "Proyecto" => RawSheetPartition.Literal(proyecto)
        case n => RawSheetPartition.Cells(layout.cols.find(_.name == n)
          .map(_.cells.toArray).getOrElse(Array.empty))
      }
    }
    Array(RawSheetPartition(path, layout.headerRow, fields))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    RawSheetReaderFactory
}

private[sources] object RawSheetPartition {
  sealed trait Field extends Serializable
  case object RowOrdinal extends Field
  case class Literal(v: String) extends Field
  case class Cells(idx: Array[Int]) extends Field
}

private[sources] case class RawSheetPartition(
    path: String, headerIdx: Long,
    fields: Array[RawSheetPartition.Field]) extends InputPartition

private[sources] object RawSheetReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RawSheetPartitionReader(p.asInstanceOf[RawSheetPartition])
}

/** Streams one sheet file: skips to past the header line, splits each
  * line quote-aware, and materializes ONLY the required fields —
  * first-non-null over each output column's cell indices. */
private[sources] class RawSheetPartitionReader(p: RawSheetPartition)
    extends PartitionReader[InternalRow] {
  import RawSheetPartition._

  private val in = RawSheetSource.openLines(p.path)
  private var lineNo = -1L
  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = in.readLine()
    lineNo += 1
    while (line != null && lineNo <= p.headerIdx) {
      line = in.readLine()
      lineNo += 1
    }
    if (line == null) return false
    val cells = RawSheetReader.splitCsvLine(line)
    val vals = new Array[Any](p.fields.length)
    var f = 0
    while (f < p.fields.length) {
      vals(f) = p.fields(f) match {
        case RowOrdinal => lineNo
        case Literal(v) => UTF8String.fromString(v)
        case Cells(idx) =>
          val c = RawSheetReader.firstNonNull(cells, idx)
          if (c == null) null else UTF8String.fromString(c)
      }
      f += 1
    }
    row = new GenericInternalRow(vals)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
