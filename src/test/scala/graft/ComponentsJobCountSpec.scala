package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `dedup_component_sizes` launches one fixed, small number of Spark
  * jobs in every fresh session: under the driver pair cap the
  * components finish in one union-find on the driver, so no fixpoint
  * round (whose job count varied with AQE re-planning) runs. */
class ComponentsJobCountSpec extends SparkTestBase {

  /** Seeded `documents` (doc_id, text): a 30-word vocabulary, 10–100
    * words per document, and ~10% edited copies of earlier documents,
    * so the near-dup graph has chains (400 documents). */
  private def writeDocuments(s: SparkSession, dir: String): Unit = {
    def mod(c: org.apache.spark.sql.Column, k: Int, n: Long) =
      pmod(xxhash64(c, lit(7L), lit(k)), lit(n))
    val vocab = array(Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter", "big",
      "group", "hash", "customer", "sort", "order", "slow", "line", "part",
      "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
      .map(lit): _*)
    def word(d: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      element_at(vocab, (pmod(xxhash64(d, i, lit(7L)), lit(30L)) + 1).cast("int"))
    val id = col("id")
    val copy = id > 10 && mod(id, 2, 100L) < 10
    val src = when(copy, mod(id, 3, 1L << 40) % id).otherwise(id)
    val text = array_join(transform(
      sequence(lit(1), (mod(src, 1, 91L) + 10).cast("int")), i =>
        when(copy && mod(id * 1000 + i, 4, 25L) === 0, word(id, i))
          .otherwise(word(src, i))), " ")
    s.range(400).select(id.as("doc_id"), text.as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("dedup_component_sizes runs one job count, at most 16, in 5 fresh " +
    "sessions") {
    val dir = Files.createTempDirectory("graft-cc-jobs").toString
    writeDocuments(spark, dir)
    val sc = spark.sparkContext
    val runs = (1 to 5).map { i =>
      val s = spark.newSession()
      val group = s"graft-cc-jobs-$i"
      sc.setJobGroup(group, "dedup_component_sizes, cold")
      val rows = try {
        SparkEntry.queries("dedup_component_sizes")(s, dir).collect().toSeq
      } finally sc.clearJobGroup()
      org.apache.spark.sql.graft.Shim.drainListeners(sc)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      (sc.statusTracker.getJobIdsForGroup(group).length, rows)
    }
    assert(runs.map(_._2).distinct.size === 1, "the answer changed")
    assert(runs.head._2.exists(_.getLong(0) > 1),
      "no component has two documents, so the graph has no pairs")
    val counts = runs.map(_._1)
    info(s"job counts: ${counts.mkString(", ")}")
    assert(counts.distinct.size === 1, s"job counts vary: $counts")
    assert(counts.head <= 16, s"${counts.head} jobs")
  }
}
