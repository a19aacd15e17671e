package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <price_etl|dashboard|gates_cold> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one JSON line with the workload's operation counts, notes and
  * raw metric values. An untraced run measures the end-to-end metrics. A
  * traced run attaches the full listener and measures the per-layer
  * metrics of the layers the workload exercises; it writes the span tree
  * and the traced end-to-end numbers to `<work>/trace.json`.
  */
object Main {
  val Workloads: Seq[Workload] = Seq(PriceEtl, Dashboard, GatesCold)

  /** Median seconds of a fixed Spark probe: a range of 50M ids hashed and
    * reduced, the host's whole-machine throughput. */
  private def calibration(spark: SparkSession): Double = Stats.median((1 to 3).map { _ =>
    Workload.timeS {
      spark.range(50000000L).select(xxhash64(col("id")).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    }
  })

  def main(args: Array[String]): Unit = {
    Workload.log("start")
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work: Path = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    Workload.log("spark session ready")
    val trace = new Trace(spark, full = traced)
    val ctx = Ctx(spark, trace, work, seed)
    val main = workload.run(ctx, seconds)
    val layers = if (!traced) Map.empty[String, Double]
      else main.layers + ("host.calib_xxhash_s" -> calibration(spark))

    if (traced) {
      trace.drain()
      val roots = trace.allSpans.filter(_.parent == 0L)
      Files.writeString(work.resolve("trace.json"), Json.obj(
        "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
        "cpus" -> cpus,
        "traced_end_to_end" -> main.e2e,
        "per_layer" -> layers,
        "self_s" -> trace.selfSeconds(main.ops),
        "plan_coverage" -> trace.planCoverage.productIterator.toSeq,
        "spans" -> Json.Raw(trace.toJson(roots))))
    }
    println(Json.obj(
      "workload" -> workload.name,
      "attempted" -> main.attempted,
      "failed" -> main.failed,
      "notes" -> main.notes,
      "cpus" -> cpus,
      "metrics" -> (if (traced) layers else main.e2e)))
    spark.stop()
    Workload.log("done")
    System.out.flush()
    System.exit(0) // do not wait on threads Spark leaves behind
  }
}
