package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** What one run shares across workloads. */
final case class Ctx(spark: SparkSession, trace: Trace, work: Path, seed: Long) {
  def span[T](name: String, layer: String)(body: => T): T =
    trace.span(name, layer)(body)

  /** Run `body` as one operation span and return the span. */
  def op(name: String)(body: => Unit): Span =
    trace.spanned(name, "op") { s => body; s }

  /** Storage (memory and disk) held by persisted RDDs, in MB. */
  def pinnedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

/** What a workload reports: operation counts, end-to-end metrics, and —
  * in a traced run — the per-layer metrics it can measure. */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double], layers: Map[String, Double],
                         notes: Seq[String], ops: Seq[Span])

trait Workload {
  def name: String

  /** Set up, then time operations. `dashboard` measures for `seconds`;
    * `price_etl` and `gates_cold` time a fixed number of operations, so
    * what their figures measure does not change with the program's speed. */
  def run(ctx: Ctx, seconds: Double): Outcome
}

object Workload {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1fs] $msg")

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** The end-to-end metrics every workload reports. `lat` holds the
    * seconds of each completed operation; a failed operation counts as
    * missing every latency figure, so it enters as the whole measuring
    * window. Throughput counts the `completed` spans per wall second, from
    * the first one's start to the last one's end. No workload runs enough
    * operations in one run for a tail percentile with ten samples beyond
    * it, so the latency reported is the median. */
  def endToEnd(setups: Seq[Double], lat: Seq[Double], failed: Long,
               windowS: Double, completed: Seq[Span]): Map[String, Double] =
    Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_ms" -> Stats.median(lat ++ Seq.fill(failed.toInt)(windowS)) * 1000.0,
      "ops_per_s" -> (if (completed.isEmpty) 0.0 else completed.size /
        ((completed.map(_.endNs).max - completed.map(_.startNs).min) / 1e9)))

  /** Per-operation medians of the engine-level listener metrics; an
    * operation is one or more spans whose totals add up. */
  def sparkLayers(ctx: Ctx, ops: Seq[Seq[Span]], pinnedAfter: Seq[Double])
      : Map[String, Double] = {
    ctx.trace.drain()
    val st = ops.map(_.map(ctx.trace.opStats))
    def med(f: OpStats => Double) = Stats.median(st.map(_.map(f).sum))
    Map(
      "spark.jobs_per_op" -> med(_.jobs.toDouble),
      "spark.tasks_per_op" -> med(_.tasks.toDouble),
      "spark.driver_gap_s" -> med(_.driverGapS),
      "spark.plan_s" -> med(_.planS),
      "spark.exec_cpu_s" -> med(_.execCpuS),
      "spark.exec_run_s" -> med(_.execRunS),
      "spark.gc_s" -> med(_.gcS),
      "spark.shuffle_write_mb" -> med(_.shuffleWriteMb),
      "spark.spill_mb" -> med(_.spillMb),
      "spark.pinned_mb_after" -> (if (pinnedAfter.isEmpty) 0.0 else pinnedAfter.max))
  }
}
