package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.query.ViewServer
import graft.sinks.Writers

/** `dashboard`: the E3 query surface. A cached units view serves a closed
  * loop of client threads issuing a seeded interaction mix — paged tables,
  * the four charts, and CSV export of a filtered view. */
object Dashboard extends Workload {
  val name = "dashboard"

  val Rows = 50000L
  val Projects = 32
  val Clients = 2
  val PageSize = 50

  /** The interaction mix, cycled by every client from its own offset:
    * 60% paged tables, 30% charts, 10% exports. Seeds vary the questions,
    * not the mix, so runs with different seeds stay comparable. One pass
    * through it is a session, the workload's operation. */
  val Schedule: IndexedSeq[String] = "PPCPPCPPEC".map {
    case 'P' => "page"
    case 'C' => "chart"
    case _ => "export"
  }

  val Estados = Seq("Disponible (Visible)", "No Disponible (Vendido)",
    "Disponible (Oculto)", "Separado", "Bloqueado")
  private val Price = "Precio de lista_num"
  private val Area = "Area techada_num"
  private val Unit = "Numero de inmueble"

  /** Project names by popularity rank; the seed decides which project is
    * the most popular. */
  def projectsByRank(seed: Long): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((0 until Projects).map(EtlData.projectName).toIndexedSeq)
  }

  /** The seeded units view: the project of rank r holds about 1/(r+1) of
    * the rows, ~3% of states and ~2% of prices are missing. */
  def base(spark: SparkSession, seed: Long): DataFrame = {
    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    def u(k: Int): Column = pmod(h(k), lit(1000003L)).cast("double") / 1000003.0
    val names = array(projectsByRank(seed).map(lit): _*)
    // inverse CDF of a 1/(r+1) law over the ranks
    val rank = least(lit(Projects - 1).cast("long"),
      floor(exp(u(1) * math.log(Projects + 1.0)) - 1.0).cast("long"))
    val estado = when(u(3) < 0.03, lit(null).cast("string"))
      .otherwise(element_at(array(Estados.map(lit): _*),
        (pmod(h(4), lit(Estados.size.toLong)) + 1).cast("int")))
    val price = when(u(5) < 0.02, lit(null).cast("double"))
      .otherwise(round(lit(150000.0) + u(6) * 2350000.0, 2))
    spark.range(Rows).select(
      element_at(names, (rank + 1).cast("int")).as("Proyecto"),
      concat(lit("U-"), col("id").cast("string")).as(Unit),
      estado.as("Estado de inmueble"),
      format_number(price, 2).as("Precio de lista"),
      price.as(Price),
      round(lit(40.0) + u(7) * 120.0, 2).as(Area),
      concat(element_at(array(Seq("A", "B", "C", "D").map(lit): _*),
          (pmod(h(8), lit(4L)) + 1).cast("int")),
        lit("-"), (pmod(h(9), lit(900L)) + 100).cast("string")).as("Tipologia"),
      (pmod(h(10), lit(25L)) + 1).as("Piso"))
  }

  final case class Filter(proyecto: Option[String], estado: Option[String],
                          search: Option[String])
  sealed trait Question { def filter: Filter; def kind: String }
  final case class PageQ(filter: Filter, key: String, asc: Boolean, page: Int)
      extends Question { val kind = "page" }
  final case class ChartQ(filter: Filter) extends Question { val kind = "chart" }
  final case class ExportQ(filter: Filter) extends Question { val kind = "export" }

  /** Typology fragments: "a-1" matches typologies A-100 to A-199. Each
    * matches about 1/36 of the rows and no other column. */
  private val Searches = for (l <- "abcd"; d <- 1 to 9) yield s"$l-$d"

  /** The seeded question pool. Its shape is fixed — which popularity rank
    * each question names, whether it filters a state, its sort key and
    * page; every question searches, as a dashboard user types into the
    * search box — so every seed asks equally costly questions. The seed
    * picks the projects behind the ranks, the states and the searched
    * typology fragments. */
  def pool(seed: Long): Seq[Question] = {
    val rnd = new SplittableRandom(seed ^ 0x5EED)
    val byRank = projectsByRank(seed)
    // (rank of the project named; filters a state; searches)
    def filter(rank: Int, estado: Boolean, search: Boolean): Filter = Filter(
      Some(byRank(rank)),
      Some(Estados(rnd.nextInt(Estados.size))).filter(_ => estado),
      Some(Searches(rnd.nextInt(Searches.size))).filter(_ => search))
    val pages = Seq(
      PageQ(filter(0, false, true), "Precio de lista", asc = true, 1),
      PageQ(filter(1, true, true), "Area techada", asc = false, 2),
      PageQ(filter(0, true, true), Unit, asc = true, 3),
      PageQ(filter(2, false, true), "Precio de lista", asc = false, 1))
    val charts = Seq(ChartQ(filter(0, false, true)), ChartQ(filter(1, true, true)))
    // exports always name a project, as the dashboard's export button does
    val exports = Seq(ExportQ(filter(1, false, true)), ExportQ(filter(0, true, true)))
    pages ++ charts ++ exports
  }

  // ------------------------------------------------------------ answers
  /** An order-insensitive digest of a row set. */
  private def digest(rows: Array[Row]): (Int, Long) =
    (rows.length, rows.map(_.hashCode.toLong).sum)

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && (0 until x.size).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) =>
            math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
          case (p, q) => p == q
        }
      }
    }

  /** A question's answer: ordered rows for pages and charts, a digest for
    * the scatter points, a row count for exports. */
  private final case class Answer(rows: Seq[Seq[Row]], scatter: (Int, Long),
                                  count: Long) {
    def matches(o: Answer): Boolean =
      rows.size == o.rows.size && rows.zip(o.rows).forall { case (a, b) =>
        sameRows(a, b)
      } && scatter == o.scatter && count == o.count
  }

  private def sortCol(df: DataFrame, key: String, asc: Boolean): Column = {
    val c = if (df.columns.contains(s"${key}_num")) col(s"${key}_num") else col(key)
    if (asc) c.asc_nulls_last else c.desc_nulls_last
  }

  /** The uncached base frame collected once, each row with its columns'
    * lower-cased string forms (Spark's own casts) for the search filter. */
  private final class Snapshot(base: DataFrame) {
    val cols: Array[String] = base.columns
    private val ix = cols.zipWithIndex.toMap
    private val collected = base.select((cols.map(col) :+ array(cols.map(c =>
      lower(col(c).cast("string"))): _*).as("__text")): _*).collect()
    val rows: Array[Row] = collected.map(r => Row.fromSeq(r.toSeq.init))
    val text: Array[Seq[String]] = collected.map(_.getSeq[String](cols.length))
    def get(r: Int, c: String): Any = rows(r).get(ix(c))
  }

  /** The same question answered by the benchmark's own code over the
    * collected base frame, independently of the engine's query layer. */
  private def expected(snap: Snapshot, q: Question): Answer = {
    val f = q.filter
    val sel = snap.rows.indices.filter { i =>
      f.proyecto.forall(_ == snap.get(i, "Proyecto")) &&
      f.estado.forall(_ == snap.get(i, "Estado de inmueble")) &&
      f.search.forall(s => snap.text(i).exists(t => t != null && t.contains(s)))
    }
    def str(i: Int, c: String) = snap.get(i, c).asInstanceOf[String]
    def dbl(i: Int, c: String) = Option(snap.get(i, c)).map(_.asInstanceOf[Double])
    q match {
      case PageQ(_, key, asc, page) =>
        val k = if (snap.cols.contains(s"${key}_num")) s"${key}_num" else key
        val ordered = sel.sortWith { (a, b) =>
          val byKey = (snap.get(a, k), snap.get(b, k)) match {
            case (null, null) => 0
            case (null, _) => 1
            case (_, null) => -1
            case (x: Double, y: Double) => if (asc) x.compare(y) else y.compare(x)
            case (x: String, y: String) => if (asc) x.compareTo(y) else y.compareTo(x)
            case (x, y) => throw new IllegalStateException(s"unexpected keys $x, $y")
          }
          if (byKey != 0) byKey < 0 else str(a, Unit).compareTo(str(b, Unit)) < 0
        }
        Answer(Seq(ordered.slice((page - 1) * PageSize, page * PageSize)
          .map(snap.rows(_))), (0, 0L), 0L)
      case ChartQ(_) =>
        val estado = (i: Int) => Option(str(i, "Estado de inmueble"))
        val byEstado = sel.groupBy(estado(_).getOrElse("__NA__")).toSeq
          .map { case (e, is) => (e, is.size.toLong) }
          .sortBy { case (e, n) => (-n, e) }.map { case (e, n) => Row(e, n) }
        val byProject = sel.groupBy(str(_, "Proyecto")).toSeq.sortBy(_._1)
        val avgPrice = byProject.map { case (p, is) =>
          val pos = is.flatMap(dbl(_, Price)).filter(_ > 0)
          Row(p, if (pos.isEmpty) 0.0 else BigDecimal(pos.sum / pos.size)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        val stacked = byProject.map { case (p, is) =>
          Row.fromSeq(p +: Estados.map(e => is.count(estado(_).contains(e)).toLong))
        }
        val scatter = sel.flatMap { i =>
          for (pr <- dbl(i, Price) if pr > 0; ar <- dbl(i, Area) if ar > 0)
            yield Row(ar, pr, str(i, "Proyecto"), str(i, "Estado de inmueble"))
        }
        Answer(Seq(byEstado, avgPrice, stacked), digest(scatter.toArray), 0L)
      case ExportQ(_) => Answer(Nil, (0, 0L), sel.size.toLong)
    }
  }

  /** Data rows in the CSV part files of an export directory. */
  private def csvRows(dir: Path): Long = {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    files.map { f =>
      val lines = Files.lines(f.toPath)
      try math.max(0L, lines.count() - 1) finally lines.close()
    }.sum
  }

  // -------------------------------------------------------- interactions
  private def ask(ctx: Ctx, server: ViewServer, q: Question, exportDir: Path)
      : Answer = q match {
    case PageQ(f, key, asc, page) => ctx.span("ViewServer.page", "query") {
      val v = server.filtered(f.proyecto, f.estado, f.search)
      val sorted = server.sorted(v, key, asc)
      Answer(Seq(server.page(sorted, Seq(sortCol(v, key, asc), col(Unit).asc),
        page, PageSize).collect().toSeq), (0, 0L), 0L)
    }
    case ChartQ(f) => ctx.span("ViewServer.charts", "query") {
      val v = server.filtered(f.proyecto, f.estado, f.search)
      val byEstado = server.countByEstado(v).collect().toSeq
      val avgPrice = server.avgPriceByProyecto(v, Price).collect().toSeq
      val stacked = server.stackedCounts(v, Estados).collect().toSeq
      val scatter = server.scatter(v, Price, Area).collect()
      Answer(Seq(byEstado, avgPrice, stacked), digest(scatter), 0L)
    }
    case ExportQ(f) =>
      val v = ctx.span("ViewServer.filtered", "query") {
        server.filtered(f.proyecto, f.estado, f.search)
      }
      ctx.span("Writers.csvExport", "sinks") {
        Writers.csvExport(v, exportDir.toString)
      }
      Answer(Nil, (0, 0L), csvRows(exportDir))
  }

  private final case class Done(q: Question, span: Span, ok: Boolean,
                                error: Option[String], bytes: Long)

  /** One client's pass through the whole schedule: its interactions'
    * latencies add up, and it fails if any of them failed. */
  private final case class Session(steps: Seq[Done]) {
    def seconds: Double = steps.map(_.span.seconds).sum
    def ok: Boolean = steps.forall(_.ok)
  }

  private def interact(ctx: Ctx, server: ViewServer, q: Question,
                       want: Answer, exportDir: Path): Done = {
    var got: Try[Answer] = null
    val span = ctx.op(s"dashboard.${q.kind}") {
      got = Try(ask(ctx, server, q, exportDir))
    }
    val ok = got.toOption.exists(_.matches(want))
    Done(q, span, ok, if (ok) None else Some(got.fold(e => s"failed: $e",
      _ => s"mismatch: $q")),
      if (q.kind == "export") Workload.treeBytes(exportDir) else 0L)
  }

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val spark = ctx.spark
    val units = base(spark, ctx.seed)
    var server: ViewServer = null
    val setups = (1 to Workload.SetupRepeats).map { _ =>
      if (server != null) server.close()
      Workload.timeS {
        server = new ViewServer(units)
        server.view.count()
      }
    }
    Workload.log(s"dashboard set-up: ${setups.mkString(", ")} s")
    val questions = pool(ctx.seed)
    var answers: Map[Question, Answer] = null
    val answerS = Workload.timeS {
      val snap = new Snapshot(units)
      answers = questions.map(q => q -> expected(snap, q)).toMap
    }
    val byKind = questions.groupBy(_.kind)

    // warm-up: every question once, untimed
    val warmDir = ctx.work.resolve("export-warm")
    val warm = questions.map(q => interact(ctx, server, q, answers(q), warmDir))
    Workload.log(f"dashboard answers $answerS%.2f s, warm-up " +
      warm.map(d => f"${d.q.kind} ${d.span.seconds}%.2f").mkString(", "))

    System.gc() // the answer snapshot is garbage now; collect it untimed
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val perClient = (0 until Clients).map(_ => Seq.newBuilder[Done])
    val clients = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val exportDir = ctx.work.resolve(s"export-$c")
        val next = scala.collection.mutable.Map[String, Int]().withDefaultValue(c)
        var n = 0
        while (System.nanoTime() < deadline) {
          val kind = Schedule((n + 5 * c) % Schedule.size)
          val qs = byKind(kind)
          val q = qs(next(kind) % qs.size)
          next(kind) += 1
          perClient(c) += interact(ctx, server, q, answers(q), exportDir)
          n += 1
        }
      }, s"dashboard-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    val byClient = perClient.map(_.result())
    val done = byClient.flatten
    val failedOps = done.filterNot(_.ok)
    Workload.log("dashboard timed: " + done.groupBy(_.q.kind).toSeq.sortBy(_._1)
      .map { case (k, ds) => f"$k n=${ds.size} " + ds.map(_.span.seconds * 1000)
        .sorted.map(v => f"$v%.0f").mkString(",") }.mkString("; "))
    // an operation is a session: per-interaction latencies spread tenfold
    // by kind, so their percentiles jump with the mix a run happens to
    // sample, while a session always holds the same mix
    val sessions = byClient.flatMap(_.grouped(Schedule.size)
      .filter(_.size == Schedule.size)
      .map(Session))
    // throughput counts interactions, not sessions: the few sessions a
    // window holds would make it jump by whole sessions
    val okSessions = sessions.filter(_.ok)
    val e2e = Workload.endToEnd(setups, okSessions.map(_.seconds),
      sessions.count(!_.ok), seconds, done.filter(_.ok).map(_.span))

    val layers =
      if (!ctx.trace.full || done.isEmpty) Map.empty[String, Double]
      else {
        ctx.trace.drain()
        def p50(kind: String) = Stats.median(done.filter(d => d.ok &&
          d.q.kind == kind).map(_.span.seconds * 1000.0))
        val exports = done.filter(d => d.ok && d.q.kind == "export")
        val sinkSpans = exports.map(d =>
          ctx.trace.subtree(d.span).filter(_.layer == "sinks"))
        Map(
          "query.page_ms" -> p50("page"),
          "query.chart_ms" -> p50("chart"),
          "query.export_ms" -> p50("export"),
          "sinks.write_s" -> Stats.median(sinkSpans.map(_.map(_.seconds).sum)),
          "sinks.jobs" -> Stats.median(sinkSpans.map(_.map(ctx.trace.jobCount)
            .sum.toDouble)),
          "sinks.mb_written" -> Stats.median(exports.map(_.bytes / 1e6))
        ) ++ Workload.sparkLayers(ctx, okSessions.map(_.steps.map(_.span)),
          Seq(ctx.pinnedMb))
      }
    val warmFailures = warm.filterNot(_.ok)
    server.close()
    Outcome(done.size + warm.size, failedOps.size + warmFailures.size, e2e, layers,
      (warmFailures ++ failedOps).flatMap(_.error).distinct.take(5),
      sessions.flatMap(_.steps.map(_.span)))
  }
}
