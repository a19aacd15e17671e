package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-20 scaling leg (r19 verdict item 3): the 8-vs-32-core probe at
  * sf0.1 showed ≈1 ratios suite-wide because every gate is
  * per-job-scheduling-bound at ~600k rows — it could not demonstrate
  * that the operators parallelize. This rehearsal runs the heavy gate
  * SHAPES at a multiple of the sf0.1 volume (deterministic synthetic
  * inputs — no Date.now, no rand) at ONE core count per JVM (a
  * same-process two-leg run measured the second leg 15-30% fast purely
  * from JIT warmup — fresh JVMs per leg remove that bias; each shape
  * warms once at 1/10 volume before its timed best-of-2), and prints
  * one JSON line.
  *
  * Also carries the r19 verdict item-5 experiment: the PageRank
  * iteration with `withDeg` pre-partitioned by the join key vs the
  * production shape, so the adopt/reject decision is measured at a
  * scale where shuffles matter, not at the scheduling-bound SF.
  * (Measured 5.6 → 3.5 s at 1.5M edges / 32 cores; adopted in
  * `PageRank` as `Checkpoints.pinIfLargeKeyed`.)
  *
  * Run: `sbt "runMain graft.tools.ScaleRehearsal6 <cores> <scale> [outFile]"`
  * once per core count, e.g. cores=32 then cores=8, scale=10 (×sf0.1). */
object ScaleRehearsal6 {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"scale-rehearsal-6-c$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** 6M-row skewed long-valued fact table with a 3-value group key —
    * the agg_gini_grouped / scalar_rank_pct domain shape at 10× sf0.1
    * (~5.8M distinct values). */
  private def facts(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      (pmod(xxhash64(col("id")), lit(3L))).cast("string").as("g"),
      (pmod(xxhash64(col("id"), lit(1L)), lit(10000000L)) +
        lit(100L)).as("v"))

  /** Bipartite trade-like multigraph: ~1.4M distinct edges over 100k
    * customers x 10k suppliers (10× the sf0.1 trade graph). */
  private def edges(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      (pmod(xxhash64(col("id")), lit(100000L)) * 2).as("a"),
      (pmod(xxhash64(col("id"), lit(7L)), lit(10000L)) * 2 + 1).as("b"))

  /** 50k ~1 kB docs, every other one carrying a shared 72-char block
    * (the ExactSubstr rehearsal's duplication corpus at half density). */
  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val boiler = (1 to 8).map(i => s"BOILER$i..").mkString
    spark.range(n).select(col("id").as("doc_id"),
      concat(
        expr("""array_join(transform(sequence(1, 12),
          j -> substr(md5(concat(id, '|', j)), 1, 10)), ' ')"""),
        when(pmod(col("id"), lit(2L)) === 0,
          concat(lit(" "), lit(boiler), lit(" ")))
          .otherwise(lit(" ")),
        expr("substr(md5(concat(id, '|tail')), 1, 16)")).as("text"))
  }

  private def once(spark: SparkSession, df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val frame = df
    frame.select(xxhash64(frame.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm once (the caller passes a 1/10-volume build), then
    * best-of-2 on the full-volume build. */
  private def time(spark: SparkSession, name: String)
                  (warm: => DataFrame)(df: => DataFrame)
      : (String, Double) = {
    spark.sparkContext.setJobDescription(s"rehearsal6 warm: $name")
    once(spark, warm)
    spark.sparkContext.setJobDescription(s"rehearsal6: $name")
    val s = math.min(once(spark, df), once(spark, df))
    spark.sparkContext.setJobDescription(null)
    println(f"[rehearsal6] $name%-28s $s%7.2f s")
    (name, s)
  }

  /** The verdict item-5 variant: one pagerank recurrence with withDeg
    * explicitly hash-partitioned by the per-iteration join key before
    * the pin, so iterations 2..n reuse the partitioning. */
  private def pagerankPrepartitioned(e0: DataFrame, iters: Int)
      : DataFrame = {
    import graft.operators.Checkpoints
    val e = Checkpoints.pinIfLarge(
      e0.select(col("a").as("src"), col("b").as("dst")).distinct(), None)
    val nodes = Checkpoints.pinIfLarge(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), None)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val withDeg = Checkpoints.pinIfLarge(
      e.join(outDeg, "src").repartition(col("src")), None)
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("out_deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("in_sum"))
      ranks = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(0.15) + lit(0.85) * coalesce(col("in_sum"), lit(0.0)))
            .as("rank"))
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleRehearsal6 <cores> <scale> [outFile]")
    val cores = args(0).toInt
    val scale = args(1).toInt
    val outFile = args.lift(2)
      .getOrElse(s"scale_rehearsal6_c$cores.json")
    val spark = session(cores)
    val nFacts = 600000L * scale
    val nEdges = 150000L * scale
    val nDocs = 5000L * scale
    def shape(name: String)(build: (Long, Long, Long) => DataFrame)
        : (String, Double) =
      time(spark, name)(
        build(nFacts / 10, nEdges / 10, nDocs / 10))(
        build(nFacts, nEdges, nDocs))
    val legs = Seq(
      shape(s"gini_grouped_${scale}x") { (f, _, _) =>
        graft.operators.Gini.giniGrouped(
          facts(spark, f), col("g"), col("v"))
      },
      shape(s"rank_pct_${scale}x") { (f, _, _) =>
        graft.operators.RankNormalize(
          facts(spark, f), "v").select("v", "rank_pct")
      },
      shape(s"pagerank_${scale}x") { (_, e, _) =>
        graft.graph.PageRank(edges(spark, e), "a", "b",
          iterations = 3).orderBy("node")
      },
      shape(s"pagerank_prepart_${scale}x") { (_, e, _) =>
        pagerankPrepartitioned(edges(spark, e), 3).orderBy("node")
      },
      shape(s"label_prop_${scale}x") { (_, e, _) =>
        graft.graph.LabelProp(edges(spark, e), "a", "b", rounds = 3)
      },
      shape(s"kcore_${scale}x") { (_, e, _) =>
        graft.graph.KCore.peel(edges(spark, e), "a", "b",
          k = 3, rounds = 3)
      },
      shape(s"minhash_reps_${scale}x") { (_, _, d) =>
        graft.dedup.Dedup.minhashRepresentativesMd5(docs(spark, d),
          "doc_id", "text")
      },
      shape(s"exact_substr_min_${scale}x") { (_, _, d) =>
        graft.textanalysis.TextAnalysis.exactSubstrDedupMinimized(
          docs(spark, d), "doc_id", "text")
          .select(col("doc_id"), col("n_removed"))
      },
      shape(s"ngram_spans_${scale}x") { (_, _, d) =>
        graft.dedup.NgramSpans.spans(docs(spark, d),
          "doc_id", "text", n = 8)
      })
    spark.stop()
    def j(m: Seq[(String, Double)]): String =
      m.sortBy(_._1).map { case (k, v) =>
        f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val line =
      s"""{"tool":"ScaleRehearsal6","cores":$cores,"scale":$scale,""" +
        s""""sec":${j(legs)}}"""
    println(line)
    Files.writeString(Paths.get(outFile), line + "\n")
  }
}
