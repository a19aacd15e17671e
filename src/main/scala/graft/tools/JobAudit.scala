package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: run each named gate `reps` times, every attempt COLD in a
  * fresh `newSession()` with the previous attempt's storage dropped
  * (the perfbench `gates_cold` discipline), and print per attempt the
  * seconds, the Spark job count and the output hash
  * (`bit_xor(xxhash64(all columns))`, which forces every column). At
  * the end it prints, per gate, the time spread and the histogram of job
  * counts: a gate whose count varies at one output hash re-plans at run
  * time (AQE), which no single run shows. Not part of the library
  * surface.
  *
  * `sbt "runMain graft.tools.JobAudit <gate,gate,...> [reps] [sfDir]"`
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val gates = args.headOption.getOrElse("dedup_component_sizes")
      .split(",").toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val jobs = new AtomicInteger()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })

    for (gate <- gates) {
      val build = graft.SparkEntry.queries(gate)
      val attempts = (1 to reps).map { i =>
        val s = spark.newSession()
        org.apache.spark.sql.graft.Shim.drainListeners(sc)
        jobs.set(0)
        val t0 = System.nanoTime()
        val df = build(s, sfDir)
        val r = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
          .agg(expr("bit_xor(__h)")).collect()
        val secs = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.graft.Shim.drainListeners(sc)
        val n = jobs.get()
        val hash = if (r.isEmpty || r(0).isNullAt(0)) 0L else r(0).getLong(0)
        println(f"[jobaudit] $gate attempt $i: $secs%.2f s, $n jobs, hash $hash")
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        (secs, n, hash)
      }
      val ts = attempts.map(_._1).sorted
      println(f"[jobaudit] $gate seconds: min ${ts.head}%.2f " +
        f"median ${ts(ts.size / 2)}%.2f max ${ts.last}%.2f")
      val hist = attempts.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (n, as) => s"$n jobs x${as.size}" }
      println(s"[jobaudit] $gate job counts: ${hist.mkString(", ")}; " +
        s"${attempts.map(_._3).distinct.size} distinct hash(es)")
    }
    spark.stop()
  }
}
