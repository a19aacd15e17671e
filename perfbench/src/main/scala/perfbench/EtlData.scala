package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import perfbench.Xls.{Cell, Num, Txt}

/** Seeded inputs of the `price_etl` workload: one BIFF8 `.xls` price list
  * per project, carrying the price-list variants of FIXTURES.md §1, and a
  * Sperant CRM extract (CSV) with about 1.6 rows per unit — the
  * reference's 1,961/1,220 ratio — including duplicate keys that differ by
  * date, case and whitespace.
  *
  * The generator also returns what the pipeline must report for each
  * project, worked out from the planted values with the reference's rules
  * (first non-null of duplicate headers, locale price parsing, latest
  * Sperant row per key, numpy-style `isclose` and null-safe state compare).
  */
object EtlData {

  final case class Planted(registros: Long, conMatch: Long,
                           cambiosPrecio: Long, cambiosEstado: Long)

  final case class Inputs(files: Seq[(Path, String)], sperant: Path,
                          planted: Map[String, Planted], units: Long,
                          xlsBytes: Long)

  private val Names = Seq("Alba", "Bosque", "Cedro", "Delta", "Encina",
    "Faro", "Girasol", "Hiedra", "Iris", "Jade", "Kiosco", "Laurel", "Mirador",
    "Nogal", "Olivo", "Pino", "Quinua", "Roble", "Sauce", "Tara", "Umbral",
    "Valle", "Yunque", "Zafiro", "Acacia", "Brisa", "Coral", "Duna", "Estrella",
    "Fresno", "Granada", "Horizonte")

  def projectName(i: Int): String =
    if (i < Names.size) s"Residencial ${Names(i)}"
    else s"Residencial ${Names(i % Names.size)} ${i / Names.size + 1}"

  private val NexoEstados = Seq("Disponible (Visible)",
    "No Disponible (Vendido)", "Disponible (Oculto)", "Separado", "Bloqueado")
  private val SperantEstados = Seq("disponible", "vendido", "no disponible",
    "proceso de separación", "separado")

  /** Header layouts; project p uses `Layouts(p % 3)`, so three projects
    * carry every header variant of FIXTURES.md §1: (a) a clean
    * header at row 0 with (d) duplicate column names, (b) the header at row
    * 4 under 4 junk rows with (e) no `Estado de inmueble` column, and (c)
    * aliased headers under 2 junk rows. */
  private sealed trait Layout { def preamble: Int }
  private case object DupHeaders extends Layout { val preamble = 0 }
  private case object NoEstado extends Layout { val preamble = 4 }
  private case object Aliased extends Layout { val preamble = 2 }
  private val Layouts = IndexedSeq(DupHeaders, NoEstado, Aliased)

  private def headers(l: Layout): Array[String] = l match {
    case Aliased => Array("unidad", "precio", "estado", "Tipología", "Piso",
      "Área techada")
    case DupHeaders => Array("Número de inmueble", "Precio de lista",
      "Precio de lista", "Estado de inmueble", "Tipología", "Dormitorios",
      "Estado de inmueble")
    case NoEstado => Array("Número de inmueble", "Precio de lista",
      "Tipología", "Piso", "Área techada")
  }

  private def group3(digits: String, sep: Char): String =
    digits.reverse.grouped(3).mkString(sep.toString).reverse

  /** A price cell in one of the mixed-locale forms, with the value the
    * engine's locale parse yields for it (None = parses to null). */
  private def priceCell(rnd: SplittableRandom): (Cell, Option[Double]) = {
    val whole = 150000L + rnd.nextLong(2350000L)
    val cents = rnd.nextInt(100)
    val v = whole + cents / 100.0
    val frac = f"$cents%02d"
    rnd.nextInt(100) match {
      case k if k < 30 => (Num(v), Some(v))
      case k if k < 55 => (Txt(group3(whole.toString, '.') + "," + frac), Some(v))
      case k if k < 75 => (Txt(group3(whole.toString, ',') + "." + frac), Some(v))
      // "1.234.567": every dot but the last is a thousands mark, so the
      // last group reads as decimals — the reference's own rule
      case k if k < 85 => (Txt(group3(whole.toString, '.')), Some(whole / 1000.0))
      case k if k < 92 => (Txt(if (k % 2 == 0) "N/A" else "-"), None)
      case _ => (null, None)
    }
  }

  private def isClose(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-8 + 1e-5 * math.abs(b)

  /** A key as a CRM user typed it: case and surrounding blanks vary. */
  private def noisy(s: String, rnd: SplittableRandom): String = {
    val cased = rnd.nextInt(3) match {
      case 0 => s
      case 1 => s.toUpperCase
      case _ => s.toLowerCase
    }
    if (rnd.nextInt(4) == 0) s" $cased " else cased
  }

  /** Write `projects` price lists totalling about `units` rows, and the
    * Sperant extract, under `dir`. */
  def write(dir: Path, seed: Long, projects: Int, units: Int): Inputs = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    // uneven project sizes, each well under the BIFF8 row limit
    val weights = Array.fill(projects)(0.5 + rnd.nextDouble())
    val sizes = weights.map(w => math.max(1, (units * w / weights.sum).round.toInt))
    require(sizes.forall(_ + 16 < Xls.MaxRows))

    val sperant = new java.lang.StringBuilder(units * 96)
    sperant.append("nombre_proyecto,nombre,precio_lista,estado_comercial," +
      "fecha_actualizacion,_row\n")
    var sperantRows = 0L
    def sperantRow(proy: String, unit: String, price: Double,
                   estado: String, day: Option[Int]): Unit = {
      sperantRows += 1
      sperant.append(proy).append(',').append(unit).append(',')
        .append(price.toString).append(',')
        .append(Option(estado).getOrElse("")).append(',')
        .append(day.map(d => java.time.LocalDate.ofEpochDay(19000L + d)
          .toString + " 08:00:00").getOrElse("")).append(',')
        .append(sperantRows).append('\n')
    }

    var xlsBytes = 0L
    val planted = Map.newBuilder[String, Planted]
    val files = (0 until projects).map { p =>
      val proy = projectName(p)
      val layout = Layouts(p % Layouts.size)
      val hdr = headers(layout)
      val rows = Array.newBuilder[Array[Cell]]
      // junk preamble above the header (titles, a blank row, a date)
      (0 until layout.preamble).foreach { i =>
        rows += (i % 3 match {
          case 0 => Array[Cell](Txt(s"LISTA DE PRECIOS - ${proy.toUpperCase}"))
          case 1 => Array[Cell]()
          case _ => Array[Cell](Txt("Actualizado al"), Txt(s"0${1 + i}/03/2024"))
        })
      }
      rows += hdr.map(h => Txt(h): Cell)
      var conMatch, cambiosPrecio, cambiosEstado = 0L
      (1 to sizes(p)).foreach { k =>
        val unitCell: Cell =
          if (k % 3 == 0) Num(1000 + k) // numeric unit code, reads as "1003"
          else if (k % 3 == 1) Txt(s"${1000 + k}.0") // float-string form
          else Txt(s"Dpto ${k}-${('A' + k % 4).toChar}")
        val unitKey = unitCell match {
          case Num(d) => d.toLong.toString
          case Txt(s) if s.endsWith(".0") => s.dropRight(2)
          case Txt(s) => s
        }
        val (price, parsed) = priceCell(rnd)
        val estado: String =
          if (layout == NoEstado) null else NexoEstados(rnd.nextInt(NexoEstados.size))
        val tipo = s"${"ABCD"(rnd.nextInt(4))}-${100 + rnd.nextInt(900)}"
        val area = Txt(f"${40 + rnd.nextInt(120)},${rnd.nextInt(100)}%02d")
        val piso = Num(1 + rnd.nextInt(25))
        rows += (layout match {
          case Aliased =>
            Array[Cell](unitCell, price, Txt(estado), Txt(tipo), piso, area)
          case DupHeaders =>
            // duplicate columns: the first non-null of each pair counts
            val (p1, p2): (Cell, Cell) =
              if (price != null && rnd.nextBoolean()) (price, Txt("999"))
              else (null, price)
            val (e1, e2) =
              if (rnd.nextBoolean()) (Txt(estado), Txt("Bloqueado"))
              else (null, Txt(estado))
            Array[Cell](unitCell, p1, p2, e1, Txt(tipo), Num(1 + rnd.nextInt(4)), e2)
          case NoEstado => Array[Cell](unitCell, price, Txt(tipo), piso, area)
        })

        // the CRM side of this unit
        if (rnd.nextInt(100) < 70) {
          conMatch += 1
          val changePrice = parsed.isEmpty || rnd.nextInt(100) < 30
          val newPrice = parsed match {
            case Some(v) if !changePrice => v
            case Some(v) => v + 100.0 * (1 + rnd.nextInt(50))
            case None => 150000.0 + rnd.nextInt(2000000)
          }
          if (parsed.forall(v => !isClose(v, newPrice))) cambiosPrecio += 1
          val newEstado: String =
            if (rnd.nextInt(100) < 35)
              SperantEstados(rnd.nextInt(SperantEstados.size))
            else estado // same state: no change (null keeps a null state)
          if (newEstado != null && newEstado != estado) cambiosEstado += 1
          val day = 30 + rnd.nextInt(300)
          sperantRow(noisy(proy, rnd), noisy(unitKey, rnd), newPrice, newEstado,
            Some(day))
          // older or undated duplicates of the same key lose the dedup
          if (rnd.nextInt(100) < 25) (0 to rnd.nextInt(2)).foreach { _ =>
            val older = if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(day))
            sperantRow(noisy(proy, rnd), noisy(unitKey, rnd),
              150000.0 + rnd.nextInt(2000000),
              SperantEstados(rnd.nextInt(SperantEstados.size)), older)
          }
        }
      }
      planted += proy -> Planted(sizes(p), conMatch, cambiosPrecio, cambiosEstado)
      val path = dir.resolve(f"lista_$p%02d.xls")
      xlsBytes += Xls.write(path, proy.take(31), rows.result().toSeq)
      (path, proy)
    }

    // CRM rows with no Nexo counterpart (units beyond the lists, and
    // projects Nexo does not carry), up to ~1.6 rows per unit
    val others = Seq("Edificio Urbanzen", "Condominio Los Olivos", "Torre Sol")
    val total = (units * 1.6).toLong
    var j = 0
    while (sperantRows < total) {
      val proy = if (j % 4 == 0) others(j % others.size)
        else projectName(rnd.nextInt(projects))
      sperantRow(proy, s"${900000 + j}", 150000.0 + rnd.nextInt(2000000),
        SperantEstados(rnd.nextInt(SperantEstados.size)),
        Some(rnd.nextInt(300)))
      j += 1
    }
    val sperantPath = dir.resolve("BD_SPERANT.csv")
    Files.writeString(sperantPath, sperant)
    Inputs(files, sperantPath, planted.result(), sizes.map(_.toLong).sum, xlsBytes)
  }
}
