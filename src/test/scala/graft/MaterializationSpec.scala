package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.{Checkpoints, LanedPrefix}

/** `Checkpoints` as the one materialization mechanism: gates answer
  * from the tables as they are (no per-session frame cache), a pin with
  * no dir takes the session default, an explicit dir stays scoped to
  * its pin, a rolling pin frees each superseded round, and the grouped
  * laned prefix groups binary keys by value. */
class MaterializationSpec extends SparkTestBase {

  /** Seeded `documents`, `orders` and `lineitem` with the columns the
    * near-dup and trade-graph gates read: a 30-word vocabulary, 10–100
    * words per document with ~3% edited copies of earlier documents,
    * and 1–7 line items per order (150 documents, 4,500 orders). */
  private def writeTables(s: SparkSession, dir: String, seed: Long): Unit = {
    def mod(c: Column, k: Int, n: Long): Column =
      pmod(xxhash64(c, lit(seed), lit(k)), lit(n))
    val vocab = array(Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter", "big",
      "group", "hash", "customer", "sort", "order", "slow", "line", "part",
      "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
      .map(lit): _*)
    def word(d: Column, i: Column): Column =
      element_at(vocab, (pmod(xxhash64(d, i, lit(seed)), lit(30L)) + 1).cast("int"))
    val id = col("id")
    val copy = id > 10 && mod(id, 2, 1000L) < 32
    val src = when(copy, mod(id, 3, 1L << 40) % id).otherwise(id)
    val text = array_join(transform(
      sequence(lit(1), (mod(src, 1, 91L) + 10).cast("int")), i =>
        when(copy && mod(id * 1000 + i, 4, 25L) === 0, word(id, i))
          .otherwise(word(src, i))), " ")
    val docs = s.range(150).select(id.as("doc_id"), text.as("text"))
    val orders = s.range(4500).select(id.as("o_orderkey"),
      mod(id, 10, 450L).as("o_custkey"))
    val lineitem = orders.select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1), (mod(col("o_orderkey"), 20, 7L) + 1)
          .cast("int"))).as("l_linenumber"))
      .withColumn("l_suppkey",
        mod(col("l_orderkey") * 8 + col("l_linenumber"), 23, 30L))
    Seq("documents" -> docs, "orders" -> orders, "lineitem" -> lineitem)
      .foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
  }

  test("gates over rewritten tables answer in the same session as a " +
    "fresh session does") {
    val dir = Files.createTempDirectory("graft-rewrite").toString
    val gates = Seq("dedup_component_sizes", "graph_pagerank")
    def answer(s: SparkSession, gate: String): Seq[String] =
      SparkEntry.queries(gate)(s, dir).collect().map(_.toString).toSeq
    val session = spark.newSession()
    writeTables(session, dir, seed = 11)
    val before = gates.map(answer(session, _))
    writeTables(session, dir, seed = 12)
    val after = gates.map(answer(session, _))
    val fresh = gates.map(answer(spark.newSession(), _))
    gates.indices.foreach(i => assert(fresh(i) !== before(i),
      s"${gates(i)}: the rewrite must change the answer for this check " +
        "to mean anything"))
    val stale = gates.indices.filter(i => after(i) != fresh(i)).map(gates)
    assert(stale.isEmpty,
      s"answered from the tables before the rewrite: ${stale.mkString(", ")}")
  }

  private def checkpointFiles(dir: String): Long =
    Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).count()

  private def isPersisted(df: DataFrame): Boolean = {
    val id = df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    spark.sparkContext.getRDDStorageInfo.exists(_.id == id)
  }

  test("a pin with no dir takes the session checkpoint dir, and an " +
    "explicit dir is set only while its pin runs") {
    val sc = spark.sparkContext
    val session = Files.createTempDirectory("graft-session-ckpt").toString
    val explicit = Files.createTempDirectory("graft-explicit-ckpt").toString
    sc.setCheckpointDir(null)
    try {
      val local = Checkpoints.pin(spark.range(10).toDF("id"))
      assert(isPersisted(local), "no session dir: a local checkpoint")
      Checkpoints.release(local)

      val scoped = Checkpoints.pin(spark.range(10).toDF("id"), Some(explicit))
      assert(scoped.count() === 10L)
      assert(checkpointFiles(explicit) > 0, "the explicit dir was not used")
      assert(sc.getCheckpointDir.isEmpty,
        "an explicit dir must not become the session default")

      sc.setCheckpointDir(session)
      val reliable = Checkpoints.pin(spark.range(10).toDF("id"), None)
      assert(!isPersisted(reliable), "None must not fall back to local")
      val pairs = spark.range(1, 6).select(col("id").as("a"),
        (col("id") + 1).as("b"))
      val labels = Dedup.connectedComponents(pairs, "a", "b",
        spark.range(1, 8).toDF("id"), "id")
      assert(labels.where(col("component_id") === 1L).count() === 6L)
      assert(checkpointFiles(session) > 0,
        "no checkpoint data under the session dir")
    } finally sc.setCheckpointDir(null)
  }

  test("a rolling pin releases the previous round only after the next " +
    "one is pinned, and close releases the last") {
    val roll = new Checkpoints.Rolling()
    val first = roll(spark.range(1000).toDF("id"))
    // the second round reads the first while it is pinned
    val second = roll(first.select((col("id") + 1).as("id")))
    assert(second.agg(sum("id")).head().getLong(0) === 500500L)
    def gone(df: DataFrame): Boolean = {
      val deadline = System.nanoTime() + 10e9.toLong
      var released = !isPersisted(df)
      while (!released && System.nanoTime() < deadline) {
        Thread.sleep(50)
        released = !isPersisted(df)
      }
      released
    }
    assert(gone(first), "the superseded round was not released")
    assert(isPersisted(second), "the current round must stay pinned")
    roll.close()
    assert(gone(second), "close must release the current round")
  }

  test("the grouped laned prefix over binary group keys equals the " +
    "string-keyed result") {
    import spark.implicits._
    val vals = (0 until 8).flatMap { g =>
      (0 until 30 + 5 * g).map(v =>
        (s"g$g", (v * (g + 3) % 71).toDouble, (v % 4 + 1).toLong))
    }.toDF("grp", "value", "cnt")
      .groupBy("grp", "value").agg(sum("cnt").as("cnt"))
    def run(df: DataFrame): (Seq[String], Seq[String]) = {
      val (out, totals) = LanedPrefix.withPrefixGrouped(df, "grp", "value",
        Seq("cnt"), k = 64, nLanes = 4, inclusive = true)
      (out.select(col("grp").cast("string"), col("value"), col("cnt_cum"))
        .collect().map(_.toString).sorted.toSeq,
        totals.select(col("grp").cast("string"), col("cnt_tot"))
          .collect().map(_.toString).sorted.toSeq)
    }
    val byString = run(vals)
    val byBinary = run(vals.withColumn("grp", col("grp").cast("binary")))
    assert(byBinary._1 === byString._1, "prefixes differ for binary keys")
    assert(byBinary._2 === byString._2, "totals differ for binary keys")
  }
}
