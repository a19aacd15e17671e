package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import graft.operators.{KsDrift, LanedPrefix, RankNormalize}

/** The two branches of the ungrouped laned prefix: under the row cap the
  * pinned domain is fetched sorted and summed on the driver, over it the
  * sketch-laned windows run. Both must give the same column names and
  * types and the same rows (all but the lane `bucket`, which the driver
  * branch sets to 0), and the driver branch must launch fewer jobs. */
class LanedPrefixDriverSpec extends SparkTestBase {
  import spark.implicits._

  private def prefix(vals: DataFrame, orderCol: String, sumCols: Seq[String],
                     inclusive: Boolean): (DataFrame, DataFrame) =
    LanedPrefix.withPrefix(vals, orderCol, sumCols, k = 64, nLanes = 4,
      inclusive = inclusive)

  /** Runs both branches and checks them equal; returns how many lanes the
    * over-cap branch used, so a caller can see that it laned. */
  private def assertBranchesAgree(vals: DataFrame, orderCol: String,
                                  sumCols: Seq[String], what: String): Int =
    Seq(true, false).map { inclusive =>
      val label = s"$what, inclusive=$inclusive"
      val (dOut, dTot) = prefix(vals, orderCol, sumCols, inclusive)
      val (lOut, lTot) = LanedPrefix.withBroadcastRowCap(0L) {
        prefix(vals, orderCol, sumCols, inclusive)
      }
      assert(dOut.schema === lOut.schema, s"$label: out schema")
      assert(dTot.schema === lTot.schema, s"$label: totals schema")
      assert(dOut.columns.toSeq === ("bucket" +: vals.columns.toSeq) ++
        sumCols.map(c => s"${c}_cum"), s"$label: column order")
      def rows(out: DataFrame) =
        out.drop("bucket").orderBy(orderCol).collect().toSeq
      assert(rows(dOut) === rows(lOut), s"$label: rows")
      assert(dTot.collect().toSeq === lTot.collect().toSeq, s"$label: totals")
      assert(dOut.select("bucket").distinct().as[Int].collect().toSeq
        .forall(_ == 0), s"$label: the driver branch is one lane")
      lOut.select("bucket").distinct().count().toInt
    }.min

  /** Distinct doubles with counts, as `RankNormalize` feeds the prefix. */
  private def doubleCounts(n: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(math.rint(rnd.nextGaussian() * 300) / 4).toDF("v")
      .groupBy("v").agg(count(lit(1)).as("c"))
  }

  test("long counts (RankNormalize's shape): both branches agree") {
    assert(assertBranchesAgree(doubleCounts(3000, 1), "v", Seq("c"),
      "long counts") > 1, "the over-cap branch should use several lanes")
  }

  test("two long columns (KsDrift / Auc's shape): both branches agree") {
    val rnd = new scala.util.Random(2)
    val vals = Seq.fill(2000)((rnd.nextInt(700).toDouble, rnd.nextBoolean()))
      .toDF("v", "side")
      .groupBy("v").agg(sum(when($"side", 1L).otherwise(0L)).as("ca"),
        sum(when($"side", 0L).otherwise(1L)).as("cb"))
    assert(assertBranchesAgree(vals, "v", Seq("ca", "cb"), "two longs") > 1)
  }

  test("long plus decimal(38,0) (lorenz's shape), a decimal(10,2) and an " +
    "int column with nulls: both branches agree on values and widening") {
    val rnd = new scala.util.Random(3)
    val vals = Seq.fill(2000)(rnd.nextInt(500).toLong).toDF("v")
      .groupBy("v").agg(count(lit(1)).as("c"))
      .withColumn("vc", ($"v" * $"c").cast("decimal(38,0)"))
      .withColumn("d2", ($"v" / 7).cast("decimal(10,2)"))
      .withColumn("i", when($"v" % 5 =!= 0, ($"c" * 3).cast("int")))
    assert(assertBranchesAgree(vals, "v", Seq("c", "vc", "d2", "i"),
      "long + decimals + int") > 1)
    val (out, tot) = prefix(vals, "v", Seq("c", "vc", "d2", "i"), true)
    assert(out.schema("i_cum").dataType.typeName === "long")
    assert(out.schema("d2_cum").dataType !== tot.schema("d2_tot").dataType,
      "a decimal(10,2) prefix widens past its sum's type, as the window's does")
  }

  test("doubles with NaN, 0.0 and -0.0 and a null order value, grouped as " +
    "the callers group them: both branches agree") {
    val raw = Seq[java.lang.Double](Double.NaN, 0.0, -0.0, 1.5, -2.0, null,
      Double.NaN, 0.0, Double.PositiveInfinity, Double.NegativeInfinity, null)
    val vals = (raw ++ (1 to 200).map(i => java.lang.Double.valueOf(i * 0.25)))
      .toDF("v").groupBy("v").agg(count(lit(1)).as("c"))
    assert(vals.count() === 206, "NaN, the zeros and null each collapse")
    assert(assertBranchesAgree(vals, "v", Seq("c"), "special doubles") > 1)
  }

  test("one row, and empty input under the laned branch's schema") {
    val one = Seq((5.0, 3L)).toDF("v", "c")
    assertBranchesAgree(one, "v", Seq("c"), "one row")
    // an empty domain fits every cap, 0 included, so the laned branch's
    // schema is taken from the one-row input of the same columns
    val (lOne, lOneTot) = LanedPrefix.withBroadcastRowCap(0L) {
      prefix(one, "v", Seq("c"), inclusive = true)
    }
    val (out, tot) = prefix(one.where(lit(false)), "v", Seq("c"),
      inclusive = true)
    assert(out.schema === lOne.schema)
    assert(tot.schema === lOneTot.schema)
    assert(out.count() === 0)
    assert(tot.collect().toSeq === Seq(Row(null)))
  }

  /** Spark jobs launched while `body` builds and collects a frame, and
    * its rows in a fixed order. */
  private def jobsOf(body: => DataFrame): (Int, Seq[Row]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Shim.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val rows = body.collect().toSeq.sortBy(_.toString)
      Shim.drainListeners(sc)
      (jobs.get(), rows)
    } finally sc.removeSparkListener(l)
  }

  test("RankNormalize and KsDrift.ks finish on the driver in fewer jobs, " +
    "with the rows of the laned branch") {
    val corpus = spark.range(20000).select($"id",
      (pmod(xxhash64($"id"), lit(5000L)) / 4).as("v"),
      (pmod($"id", lit(7L)) === 0).as("cur"))
    val base = corpus.where(!$"cur")
    val cur = corpus.where($"cur")
    // measured on this input: 6 jobs each under the cap, against 11
    // each when every call laned (pin, sketch collect, lane sums
    // collect, laned window); over the cap the bounded fetch adds one
    val cases = Seq[(String, () => DataFrame, Int)](
      ("RankNormalize", () => RankNormalize(corpus, "v")
        .select("id", "rank_pct"), 6),
      ("KsDrift.ks", () => KsDrift.ks(base, cur, "v"), 6))
    cases.foreach { case (name, run, bound) =>
      val (jobs, rows) = jobsOf(run())
      val (lanedJobs, lanedRows) =
        LanedPrefix.withBroadcastRowCap(0L)(jobsOf(run()))
      info(s"$name: $jobs jobs under the cap, $lanedJobs over it")
      assert(jobs <= bound, s"$name took $jobs jobs")
      assert(lanedJobs >= jobs + 5, s"$name: $lanedJobs laned vs $jobs")
      assert(rows === lanedRows, s"$name rows")
    }
  }
}
