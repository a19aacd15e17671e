package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** k-core peeling — the standard graph-density filter (Seidman 1983):
  * repeatedly drop nodes with degree < k; what survives is the k-core,
  * the maximal subgraph where every node keeps ≥ k neighbors. On a
  * near-dup or interaction graph this isolates the dense clusters
  * (template families, bot rings) from incidental pairs.
  *
  * Synchronous rounds, each ONE grouped degree count + two hash
  * semi-joins (drop edges touching a peeled endpoint) — no windows,
  * no driver-side graph. Rounds are deterministic, so a fixed-round
  * run replays exactly on any engine (the gate's contract, like
  * `graph_label_prop`); at fixpoint the result IS the k-core, and
  * `peel` stops early when a materialization removes nothing (peeling
  * is idempotent at fixpoint, so checking per BLOCK of fused rounds
  * never changes the result). Output: the surviving nodes with their
  * in-core degree.
  *
  * Scale shape: lineage truncates at each materialization via a
  * [[graft.operators.Checkpoints.Rolling]] pin: reliable
  * `checkpoint(dir)` on a cluster when `checkpointDir` is set (the
  * `Dedup.connectedComponents`/`PageRank` durability contract — a
  * corpus-sized local checkpoint block has no lineage to survive
  * executor loss), the session default otherwise.
  *
  * `fuse` chains that many peel rounds LAZILY between
  * materializations, trading one pin+count job pair per extra round
  * against re-evaluating the unmaterialized round subtree where the
  * plan references it more than once (the keep side and both
  * semi-join probes; exchange reuse recovers only the identically-
  * keyed parts). MEASURED on local[32] at sf0.1 (3-round k=3 peel of
  * the trade graph): fuse=2 runs 3.1-3.3 s warm vs 2.4-2.7 s at
  * fuse=1 — the recompute outweighs the ~2-job saving whenever
  * per-job scheduling latency is the local-mode microseconds-to-
  * milliseconds, so the DEFAULT is no fusion; the knob exists for
  * schedulers where a job round-trip costs more than a round's
  * compute (a saturated 1000-executor driver), and the spec pins
  * fused == unfused output. */
object KCore {
  def peel(edges: DataFrame, aCol: String, bCol: String, k: Int,
           rounds: Int, fuse: Int = 1,
           checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k and rounds positive ($k, $rounds)")
    require(fuse >= 1, s"fuse must be >= 1, got $fuse")
    val e = edges.where(col(aCol).isNotNull && col(bCol).isNotNull &&
      col(aCol) =!= col(bCol))
    // each block's pin releases the superseded round's blocks, so a
    // long peel (and a long-lived session) holds one round's blocks
    val roll = new Checkpoints.Rolling(checkpointDir)
    var und = roll(
      e.select(col(aCol).as("u"), col(bCol).as("v"))
        .union(e.select(col(bCol).as("u"), col(aCol).as("v")))
        .distinct())
    var r = 0
    var done = false
    // ONE count action per materialized block: the previous block's
    // edge count is carried in a local (the initial count rides the
    // checkpoint that just materialized `und`)
    var prevCount = und.count()
    // the peel rounds run ADAPTIVE (round 19 re-measure): a static-
    // planning wrapper here halved the job count but DOUBLED the wall
    // time (graph_kcore 6.4 s static vs 3.5 s adaptive, solo
    // best-of-3) — the checkpointed blocks scan as LogicalRDDs with no
    // size statistics, so without AQE the degree semi-joins cannot be
    // planned as broadcasts and fall back to sort-merge. AQE's runtime
    // sizing is also the scale-adaptive behavior the 100 TB shape
    // needs (broadcast while `keep` fits, shuffle join beyond)
    while (r < rounds && !done) {
      val steps = math.min(fuse, rounds - r)
      var block = und
      var i = 0
      while (i < steps) {
        val keep = block.groupBy("u").agg(count(lit(1)).as("__d"))
          .where(col("__d") >= k)
          .select("u")
        block = block
          .join(keep, Seq("u"), "left_semi")
          .join(keep.toDF("v"), Seq("v"), "left_semi")
          .select("u", "v")
        i += 1
      }
      und = roll(block)
      val after = und.count()
      done = after == prevCount
      prevCount = after
      r += steps
    }
    und.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("degree"))
  }
}
