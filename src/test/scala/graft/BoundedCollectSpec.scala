package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, BinaryType, IntegerType, StringType}
import graft.operators.{Analytics, BoundedCollect, LanedPrefix}

/** The one bounded driver collect: its contract, the grouped callers
  * that spend its cap, and a source lint that keeps every capped
  * collect on it. */
class BoundedCollectSpec extends SparkTestBase {
  import spark.implicits._

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    Shim.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; Shim.drainListeners(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("apply returns the rows under the cap and None over it") {
    val ds = (1 to 5).toDS()
    assert(BoundedCollect(ds, 5L).map(_.sorted.toSeq) === Some(1 to 5))
    assert(BoundedCollect(ds, 4L) === None)
    assert(BoundedCollect(ds.limit(0), 0L).map(_.toSeq) === Some(Seq.empty))
    // a cap beyond the Int range is clamped, not overflowed
    assert(BoundedCollect(ds, Long.MaxValue).map(_.length) === Some(5))
  }

  test("orFail names the site, the cap, what overflowed and the remedy") {
    val e = intercept[IllegalArgumentException] {
      BoundedCollect.orFail((1 to 3).toDS(), 2L, "Site.op", "widgets",
        "pre-filter")
    }
    assert(e.getMessage === "Site.op: more than 2 widgets — pre-filter")
  }

  test("groupsByValue: atomic types except binary") {
    assert(BoundedCollect.groupsByValue(StringType))
    assert(BoundedCollect.groupsByValue(IntegerType))
    assert(!BoundedCollect.groupsByValue(BinaryType))
    assert(!BoundedCollect.groupsByValue(ArrayType(IntegerType)))
  }

  private val probs = Seq("0.50" -> 0.5, "0.90" -> 0.9)

  private def twoGroups(n: Int) = (1 to n).map(i =>
    (i.toLong, s"g${i % 2}", (i * 37 % 101).toDouble)).toDF("id", "g", "x")

  test("exactQuantilesSelectGrouped rejects a binary group key, naming " +
    "the column and its type, before any job runs") {
    val df = twoGroups(400).withColumn("g", col("g").cast("binary"))
    var msg = ""
    val jobs = jobsDuring {
      msg = intercept[IllegalArgumentException] {
        Analytics.exactQuantilesSelectGrouped(df, "g", col("id"), "x",
          probs, k = 64, nBuckets = 4)
      }.getMessage
    }
    assert(msg.contains("'g'") && msg.contains("binary"), msg)
    assert(jobs === 0, "the key check must precede every Spark job")
  }

  test("exactQuantilesSelectGrouped over maxGroups fails on the lane " +
    "counts fetch or the group guard") {
    val site = "Analytics.exactQuantilesSelectGrouped: more than"
    // many values per group: 2 groups x 4 lanes > maxGroups x nBuckets,
    // so the bounded fetch itself refuses
    val lanes = intercept[IllegalArgumentException] {
      Analytics.exactQuantilesSelectGrouped(twoGroups(400), "g",
        col("id"), "x", probs, k = 64, nBuckets = 4, maxGroups = 1)
    }
    assert(lanes.getMessage.contains(s"$site 4 (group, lane) counts"),
      lanes.getMessage)
    // one value per group: the 2 lane rows fit, the group guard fires
    val groups = intercept[IllegalArgumentException] {
      Analytics.exactQuantilesSelectGrouped(twoGroups(2), "g",
        col("id"), "x", probs, k = 64, nBuckets = 4, maxGroups = 1)
    }
    assert(groups.getMessage.contains(s"$site 1 groups"), groups.getMessage)
  }

  test("the grouped laned prefix spends its cap in (group, lane) cells") {
    // 6 groups x 4 lanes = 24 cells: a cap of 24 keeps the driver
    // branch (broadcast offsets), 23 takes the planner branch, and the
    // answer is the same
    val vals = (0 until 6).flatMap { g =>
      (0 until 40 + 5 * g).map(v => (s"g$g", (v * (g + 3) % 71).toDouble,
        (v % 4 + 1).toLong))
    }.toDF("grp", "value", "cnt")
      .groupBy("grp", "value").agg(sum("cnt").as("cnt"))
    def run(cap: Long): (Seq[String], Boolean) = {
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(k => spark.conf.set(k, "-1"))
      try LanedPrefix.withBroadcastRowCap(cap) {
        val (out, _) = LanedPrefix.withPrefixGrouped(vals, "grp", "value",
          Seq("cnt"), k = 64, nLanes = 4, inclusive = true)
        val rows = out.select("grp", "value", "cnt_cum").collect()
          .map(_.toString).sorted.toSeq
        val plan = out.queryExecution.executedPlan.toString
        (rows, plan.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("bucket")))
      } finally prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    val (atCap, fusedAtCap) = run(24L)
    val (belowCap, fusedBelowCap) = run(23L)
    assert(fusedAtCap, "6 groups x 4 lanes fit a 24-cell cap")
    assert(!fusedBelowCap, "a 23-cell cap must take the planner branch")
    assert(belowCap === atCap)
  }

  test("lint: capped collects and the atomic-key check live only in " +
    "BoundedCollect") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val patterns = Seq(
      "limit(<expr> + 1) feeding a collect" ->
        """(?s)\.limit\((?:[^()]|\([^()]*\))*?\+\s*1\s*\)\s*\.collect\(""".r,
      "Shim.isAtomic" -> """Shim\.isAtomic""".r,
      "the Int.MaxValue - 2 clamp" -> """Int\.MaxValue\s*-\s*2""".r)
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def hits(p: Path) = {
      val src = new String(Files.readAllBytes(p), "UTF-8")
      patterns.collect { case (name, re) if re.findFirstIn(src).nonEmpty =>
        name }
    }
    val (home, others) =
      files.partition(_.getFileName.toString == "BoundedCollect.scala")
    assert(home.size === 1)
    assert(hits(home.head) === patterns.map(_._1),
      "each pattern must match its one home, or the lint checks nothing")
    val stray = others.flatMap(p => hits(p).map(h => s"$p: $h"))
    assert(stray.isEmpty, stray.mkString("outside BoundedCollect:\n", "\n", ""))
  }
}
