package perfbench

import java.nio.file.{Files, Path}
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Seeded stand-ins for the `documents`, `lineitem` and `orders` tables
  * the gates read, with the shapes of the TPC-H-style test tables: a
  * 30-word vocabulary with 10–100 words per document (so near-duplicate
  * pairs are common), a few exact and edited copies, one parquet file per
  * table. `scale` 1.0 is 5,000 documents, 150,000 orders and ~600,000
  * line items. */
object GateData {
  val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  def write(spark: SparkSession, dir: Path, seed: Long, scale: Double): Unit = {
    val nDocs = math.max(100L, (5000 * scale).toLong)
    val nOrders = math.max(1000L, (150000 * scale).toLong)
    val nSupp = math.max(10L, (1000 * scale).toLong)
    val nPart = math.max(100L, (20000 * scale).toLong)
    def h(c: Column, k: Int): Column = xxhash64(c, lit(seed), lit(k))
    def mod(c: Column, k: Int, n: Long): Column = pmod(h(c, k), lit(n))
    def unit(c: Column, k: Int): Column =
      mod(c, k, 1000003L).cast("double") / 1000003.0
    val vocab = array(Vocab.map(lit): _*)

    // documents: ~3% edited copies and ~0.2% exact copies of earlier ones
    val id = col("id")
    def nWords(d: Column): Column = (mod(d, 1, 91L) + 10).cast("int")
    def word(d: Column, i: Column): Column =
      element_at(vocab, (pmod(xxhash64(d, i, lit(seed)), lit(30L)) + 1).cast("int"))
    val copyKind = mod(id, 2, 1000L)
    val src = when(id > 10 && copyKind < 32, mod(id, 3, 1L << 40) % id).otherwise(id)
    val text = array_join(transform(sequence(lit(1), nWords(src)), i =>
      when(copyKind >= 2 && src =!= id && mod(id * 1000 + i, 4, 25L) === 0, word(id, i))
        .otherwise(word(src, i))), " ")
    val langs = array(Seq("en", "zh", "de", "fr", "es").map(lit): _*)
    val lang = when(unit(id, 5) < 0.41, lit("en"))
      .otherwise(element_at(langs, (mod(id, 6, 4L) + 2).cast("int")))
    val docs = spark.range(nDocs).select(id.as("doc_id"), text.as("text"),
        lang.as("lang"), concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // orders and their line items (1–7 lines per order)
    val orders = spark.range(nOrders).select(id.as("o_orderkey"),
      mod(id, 10, math.max(1L, nOrders / 10)).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (mod(id, 11, 3L) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + unit(id, 12) * 450000.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + mod(id, 13, 2500L) * 86400L)
        .as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), (mod(id, 14, 5L) + 1).cast("int"))
        .as("o_orderpriority"))
    val lines = spark.range(nOrders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (mod(id, 20, 7L) + 1).cast("int"))).as("l_linenumber"))
    val key = col("l_orderkey") * 8 + col("l_linenumber")
    val qty = (mod(key, 21, 50L) + 1).cast("double")
    val lineitem = lines.select(col("l_orderkey"),
      mod(key, 22, nPart).as("l_partkey"), mod(key, 23, nSupp).as("l_suppkey"),
      col("l_linenumber"), qty.as("l_quantity"),
      round(qty * (lit(900.0) + unit(key, 24) * 1200.0), 2).as("l_extendedprice"),
      (mod(key, 25, 11L) / 100.0).as("l_discount"),
      (mod(key, 26, 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (mod(key, 27, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (mod(key, 28, 2L) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + mod(key, 29, 2500L) * 86400L)
        .as("l_shipdate"))

    Seq("documents" -> docs, "orders" -> orders, "lineitem" -> lineitem)
      .foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite")
          .option("compression", "snappy")
          .parquet(dir.resolve(s"$name.parquet").toString)
      }
  }
}

/** `gates_cold`: a fixed list of engine gates, each attempt in a fresh
  * session so nothing cached per session can be reused. One operation is
  * one sweep over the list. */
object GatesCold extends Workload {
  val name = "gates_cold"

  val Gates = Seq("dedup_component_sizes", "scalar_rank_pct", "dedup_minhash_pairs")
  val Scale = 0.05
  val TimedSweeps = 2

  /** Force every output column, as the engine's own bench does. */
  private def hashOf(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)")).collect()
    if (r.isEmpty || r(0).isNullAt(0)) 0L else r(0).getLong(0)
  }

  /** Drop whatever an attempt left persisted, so the next starts cold. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private final case class Attempt(gate: String, span: Span, hash: Try[Long],
                                   jobs: Int, pinnedMb: Double)

  /** One gate in a fresh session. With `verifyDir` the output is written
    * there for the oracle and its hash read back after the timed span;
    * otherwise the span covers computing the hash. */
  private def attempt(ctx: Ctx, data: Path, gate: String,
                      verifyDir: Option[Path]): Attempt = {
    val s = ctx.spark.newSession()
    ctx.trace.attach(s)
    val build = SparkEntry.queries(gate)
    var hash: Try[Long] = null
    val span = ctx.trace.spanned(s"gate.$gate", "gate") { sp =>
      hash = Try {
        val df = build(s, data.toString)
        verifyDir match {
          case Some(dir) =>
            df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
            0L
          case None => hashOf(df)
        }
      }
      sp
    }
    ctx.trace.drain()
    val jobs = ctx.trace.jobCount(span)
    verifyDir.foreach(dir =>
      hash = hash.flatMap(_ => Try(hashOf(s.read.parquet(dir.toString)))))
    val pinned = ctx.pinnedMb
    Workload.log(f"$gate: ${span.seconds}%.2f s, $jobs jobs")
    release(ctx.spark)
    Attempt(gate, span, hash, jobs, pinned)
  }

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val data = ctx.work.resolve("gates-data")
    val setups = (1 to Workload.SetupRepeats).map { _ =>
      Workload.deleteTree(data)
      Workload.timeS { GateData.write(ctx.spark, data, ctx.seed, Scale) }
    }
    Workload.log(s"gates set-up: ${setups.mkString(", ")} s")

    // untimed verified sweep, which also warms the JVM: each output is
    // written for the DuckDB oracle and its hash read back
    val out = ctx.work.resolve("gates-out")
    Workload.deleteTree(out)
    Files.createDirectories(out)
    val verified = Gates.map(g => g -> attempt(ctx, data, g, Some(out.resolve(g)))).toMap
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.value(Gates.map(g => g -> oracle(g)).toMap))
    val notes = Seq.newBuilder[String]
    verified.values.foreach(a => a.hash.failed.foreach(e =>
      notes += s"${a.gate} failed in the verified sweep: $e"))

    // a fixed number of timed sweeps, so that what the figure measures does
    // not change with the program's speed; two show equal job counts
    val all = (1 to TimedSweeps).map { _ =>
      System.gc()
      var attempts: Seq[Attempt] = Nil
      val span = ctx.op("gates.sweep") {
        attempts = Gates.map(g => attempt(ctx, data, g, None))
      }
      span -> attempts
    }

    // a sweep fails if any gate fails or disagrees with the verified
    // output, or if a gate's job count changes between sweeps or falls
    // well below the verified sweep's (which writes instead of hashing, so
    // may differ by a stage or two): fewer jobs mean something was served
    // from a cache, and the attempt was not cold
    val firstJobs = all.head._2.map(a => a.gate -> a.jobs).toMap
    val bad = all.map { case (_, as) =>
      as.flatMap { a =>
        val want = verified(a.gate).hash.toOption
        val verifiedJobs = verified(a.gate).jobs
        if (a.hash.isFailure) Some(s"${a.gate} failed: ${a.hash.failed.get}")
        else if (want.isEmpty || a.hash.toOption != want)
          Some(s"${a.gate} hash ${a.hash.get} != verified $want")
        else if (a.jobs != firstJobs(a.gate) || a.jobs < verifiedJobs - 2)
          Some(s"${a.gate} not cold: ${a.jobs} jobs, first sweep " +
            s"${firstJobs(a.gate)}, verified sweep $verifiedJobs")
        else None
      }
    }
    bad.flatten.distinct.take(5).foreach(notes += _)
    val good = all.zip(bad).collect { case (sw, b) if b.isEmpty => sw }

    val e2e = Workload.endToEnd(setups, good.map(_._2.map(_.span.seconds).sum),
      all.size - good.size, seconds, good.map(_._1))
    val layers =
      if (!ctx.trace.full || good.isEmpty) Map.empty[String, Double]
      else {
        val perGate = Gates.flatMap { g =>
          val as = good.map(_._2.find(_.gate == g).get)
          Seq(s"gate.$g.cold_s" -> Stats.median(as.map(_.span.seconds)),
            s"gate.$g.jobs" -> Stats.median(as.map(_.jobs.toDouble)))
        }.toMap
        perGate ++ Workload.sparkLayers(ctx, good.map(_._2.map(_.span)),
          good.map(_._2.map(_.pinnedMb).max))
      }
    Outcome(all.size, all.size - good.size, e2e, layers, notes.result(),
      good.map(_._1))
  }
}
