package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Maximal Marginal Relevance — the diversified re-rank that turns a
  * relevance-ordered candidate pool into a relevant-AND-non-redundant
  * top-k (the standard fix for retrieval pools full of near-duplicate
  * passages before they reach a context window): greedily pick
  * argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), ties to the smallest
  * id.
  *
  * This runs on a BOUNDED pool (the caller's top-n, e.g.
  * [[Similarity.topK]] joined back to its vectors — tens of rows), the
  * same bounded-driver-state contract as the PQ codebooks and the BPE
  * merge loop: each of the k greedy steps is a couple of tiny
  * DataFrame ops (anti-join the picked set, broadcast-join the ≤ k
  * picked vectors for the max-sim, one ordered limit-1), checkpointed
  * per step so the plan stays flat. Never call it on an unbounded
  * corpus — MMR's sequential data dependency is irreducible; bound the
  * pool first, that is what retrieval's candidate stage is for.
  *
  * Replayability: rel and pairwise sims round to 4dp before any
  * comparison (the sim-gate convention), and λ defaults to 0.5 so
  * both λ and 1−λ are exact binary doubles — the score arithmetic
  * replays bit-for-bit in SQL. Output: (rank, idCol, mmr_score),
  * rank 1-based in pick order. */
object Mmr {
  def rerank(pool: DataFrame, idCol: String, vecCol: String,
             relCol: String, k: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda > 0 && lambda <= 1, s"lambda in (0,1], got $lambda")
    val base = pool.select(col(idCol).as("__id"),
        Similarity.toVec(col(vecCol)).as("__vec"),
        col(relCol).cast("double").as("__rel"))
      .transform(d => Checkpoints.pin(d)) // bounded pool; read k times below
    var selected: DataFrame = null
    for (step <- 1 to k) {
      val remaining =
        if (selected == null) base
        else base.join(selected.select(col("__id")), Seq("__id"),
          "left_anti")
      val scored =
        if (selected == null)
          remaining.select(col("__id"), col("__vec"),
            (lit(lambda) * col("__rel")).as("__score"))
        else {
          val sel = broadcast(selected
            .select(col("__vec").as("__svec")))
          remaining.crossJoin(sel) // ≤ pool × k rows, broadcast side
            .groupBy(col("__id"))
            .agg(first("__vec").as("__vec"), first("__rel").as("__rel"),
              max(round(Similarity.cosine(col("__vec"), col("__svec")),
                4)).as("__maxsim"))
            .select(col("__id"), col("__vec"),
              (lit(lambda) * col("__rel") -
                lit(1.0 - lambda) * col("__maxsim")).as("__score"))
        }
      val pick = scored
        .orderBy(col("__score").desc, col("__id"))
        .limit(1)
        .withColumn("__rank", lit(step))
        .transform(d => Checkpoints.pin(d))
      selected = if (selected == null) pick
        else selected.unionByName(pick)
    }
    selected.select(col("__rank").as("rank"), col("__id").as(idCol),
      (col("__score") + lit(0.0)).as("mmr_score"))
  }
}
