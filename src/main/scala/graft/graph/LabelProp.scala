package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Synchronous label propagation (LPA) — community detection over an
  * edge list, the third iterative graph operator next to [[PageRank]]
  * and `dedup.Dedup.connectedComponents`: near-duplicate clusters,
  * crawl-domain communities, and trade cliques all fall out of "adopt
  * the label most of your neighbors carry".
  *
  * Every node starts labeled with itself; each round, every node with
  * at least one neighbor takes the most frequent label among its
  * neighbors' CURRENT labels (synchronous — all reads see the previous
  * round), ties broken toward the SMALLEST label so the whole run is
  * deterministic and replayable in SQL (the asynchronous/randomized LPA
  * of the original paper trades that away for faster mixing; fixed
  * synchronous rounds are what an oracle can unroll). The node set is
  * the edge endpoints — a node absent from the edge list is absent
  * from the output.
  *
  * Per round: one equi-join (undirected edges ⨝ labels on the neighbor
  * endpoint, both hash-partitioned on the join key) and one
  * count-then-argmax aggregation per node. The argmax is a single
  * partial-aggregable `max(struct(cnt, -label))` — no window, no
  * per-node collection; the shuffle after the count carries one row per
  * (node, distinct neighbor label), bounded by the edge count. Long
  * runs truncate lineage per round like [[PageRank]]
  * (`checkpointEvery` / `checkpointDir`).
  *
  * Labels must be non-negative longs (the tie-break negates them; a
  * `Long.MinValue` id would overflow the negation silently) — the
  * precondition is enforced with a per-row `assert_true` on the edge
  * scan, the same cheap guard [[graft.operators.Gini]] and
  * `Dedup.paragraphDedup` use, because the SQL TVF surface
  * (`graft_label_prop`) exposes this operator to arbitrary tables. Map
  * string ids to dense longs first if needed. Edges are treated as
  * undirected and self-loops are dropped. Output: (node, label). */
object LabelProp {
  def apply(edges: DataFrame, srcCol: String, dstCol: String,
            rounds: Int, checkpointEvery: Int = 0,
            checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val dir = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .where(assert_true(col("a") >= 0 && col("b") >= 0,
        lit("LabelProp needs non-negative node ids")).isNull)
    // undirected: both orientations, deduped. `und` (every round's
    // neighbor join) and `nodes` (every round's rebuild) pin only when
    // LARGE (round 20): on a small graph the round-19 unconditional
    // pins outpriced the re-scans they save (graph_label_prop 0.78x).
    // `und` pins PARTITIONED BY `b` (round 20, guide §2.4):
    // every round's neighbor join probes it on b, and the checkpoint
    // preserves the partitioning — one exchange at pin time instead of
    // one per round once labels outgrow a broadcast.
    val und = Checkpoints.pinIfLargeKeyed(
      dir.union(dir.select(col("b").as("a"), col("a").as("b")))
        .distinct(), col("b"), checkpointDir)
    val nodes = Checkpoints.pinIfLarge(
      und.select(col("a").as("node")).distinct(), checkpointDir)
    // one round of label blocks live at a time, never und/nodes
    val truncate = new Checkpoints.Rolling(checkpointDir)
    var labels = nodes.withColumn("label", col("node"))
    for (it <- 1 to rounds) {
      val adopted = und
        .join(labels, col("b") === col("node"))
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        // argmax by (cnt desc, label asc): max over (cnt, -label)
        .groupBy(col("a"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl")))
          .as("best"))
        .select(col("a").as("node"), (-col("best.nl")).as("label"))
      labels = nodes.join(adopted, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("label"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 &&
        it < rounds)
        labels = truncate(labels)
    }
    labels
  }
}
