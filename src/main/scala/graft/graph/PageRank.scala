package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Fixed-iteration PageRank over an edge list — the second iterative
  * graph operator next to `dedup.Dedup.connectedComponents` (influence
  * scoring for entity graphs: domain link graphs in a crawl, the
  * customer↔supplier trade graph here).
  *
  * Per iteration: each node sends rank/out_degree along its out-edges,
  * contributions sum per destination (one hash-partitioned aggregation),
  * and every node resets to `(1-d) + d·Σ contributions` — nodes with no
  * in-edges take `1-d` via the left join's null sum. Dangling nodes
  * (no out-edges) keep receiving but distribute nothing, the plain
  * non-normalized PageRank variant; total mass is therefore not
  * conserved, which is fine for RANKING and keeps the recurrence exactly
  * replayable in SQL (the DuckDB oracle unrolls the same three CTE
  * steps).
  *
  * Scale shape: out-degrees are computed once; every iteration is one
  * equi-join (edges ⨝ ranks on src — both sides hash-partitioned on the
  * same key) plus one partial-aggregating groupBy on dst. For tens of
  * iterations at 100 TB, truncate lineage per round exactly as
  * `connectedComponents` does (reliable `checkpoint(dir)` on a cluster);
  * at the gate's fixed 3 iterations the unrolled plan is fine as-is.
  * Ranks are full-precision through the recurrence and rounded once at
  * the END — rounding inside the loop would compound cross-engine ulp
  * differences instead of masking them.
  */
object PageRank {
  /** Global PageRank: [[personalized]]'s recurrence with a UNIFORM
    * restart of 1 per node, so rank₀ = 1 and each iteration applies
    * (1−d) + d·Σ contributions (`(1−d)·1.0` folds to the same double).
    *
    * `checkpointEvery > 0` truncates the rank frame's lineage every
    * that-many iterations — REQUIRED for long runs, where the unrolled
    * plan otherwise grows linearly in iterations and re-plans from the
    * root. `checkpointDir` selects the reliable `checkpoint(dir)`
    * (survives executor loss on a cluster, like
    * `Dedup.connectedComponents`); absent, the session default
    * ([[graft.operators.Checkpoints]]). */
  def apply(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int, damping: Double = 0.85,
            checkpointEvery: Int = 0,
            checkpointDir: Option[String] = None): DataFrame =
    recurrence(edges, srcCol, dstCol, lit(1.0), iterations, damping,
      checkpointEvery, checkpointDir)

  /** Personalized PageRank — the random walk restarts INTO the source
    * set instead of uniformly ("what's near these seed entities"):
    * restart(v) = 1/|S| for v ∈ sources, 0 elsewhere; rank₀ = restart
    * and each iteration applies (1−d)·restart + d·Σ contributions.
    * Nodes unreachable from the sources stay at exactly 0, which is
    * the point — PPR scores locality, global PageRank scores
    * prominence. Same lineage-truncation contract as [[apply]]; the
    * oracle unrolls the same recurrence with the restart CASE
    * inlined. */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: Seq[String], iterations: Int,
                   damping: Double = 0.85,
                   checkpointEvery: Int = 0,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs >= 1 source")
    val mass = 1.0 / sources.size // same double the oracle inlines
    recurrence(edges, srcCol, dstCol,
      when(col("node").isin(sources: _*), lit(mass)).otherwise(lit(0.0)),
      iterations, damping, checkpointEvery, checkpointDir)
  }

  /** The one rank recurrence: rank₀ = `restart`, then per iteration
    * (1−d)·restart + d·Σ contributions, `restart` a column over
    * `node`. */
  private def recurrence(edges: DataFrame, srcCol: String, dstCol: String,
                         restart: Column, iterations: Int, damping: Double,
                         checkpointEvery: Int,
                         checkpointDir: Option[String]): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    // the loop invariants pin only when LARGE (round 20): the deduped
    // edge list feeds four differently-keyed readers and `nodes`/
    // `withDeg` every unrolled iteration, but on small graphs the eager
    // pin jobs cost more than the re-scans they save (round-19
    // unconditional pins priced graph_ppr at 0.85x)
    val e = Checkpoints.pinIfLarge(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct(), checkpointDir)
    val nodes = Checkpoints.pinIfLarge(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), checkpointDir)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // pinned PARTITIONED BY `src` (round 20, guide §2.4): every
    // iteration's contribution join probes withDeg on src, and the
    // checkpoint preserves the partitioning — one exchange at pin time
    // instead of one per iteration (ScaleRehearsal6: 3-iteration
    // recurrence at 1.5M edges 5.6 → 3.5 s)
    val withDeg = Checkpoints.pinIfLargeKeyed(
      e.join(outDeg, "src"), col("src"), checkpointDir)
    // one round of rank blocks live at a time, never the invariants
    val truncate = new Checkpoints.Rolling(checkpointDir)
    var ranks = nodes.withColumn("rank", restart)
    for (it <- 1 to iterations) {
      val contrib = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("out_deg")).as("c"))
        .groupBy("dst").agg(sum("c").as("in_sum"))
      ranks = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * restart +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 &&
        it < iterations)
        ranks = truncate(ranks)
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }
}
