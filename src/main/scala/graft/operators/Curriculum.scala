package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Curriculum scheduling (Bengio et al. 2009, band-interleaved form):
  * order training data easy→hard WITHOUT starving any step of
  * variety — cut the corpus into `nBands` equi-depth difficulty bands
  * and emit band-local progress as the primary sort key, so a reader
  * consuming the schedule in (within_pct, band) order sees every
  * band's easiest examples first, round-robin across bands, hardest
  * last.
  *
  * Both ranks run on the laned distributed prefix machinery
  * ([[RankNormalize]]): no `percent_rank() OVER ()` one-task funnel,
  * no per-band full sort — the band cut is a pure function of the
  * GLOBAL percent-rank, the within-band rank lanes each band by its
  * own cuts. Ranks are value-pure (ties share a rank), so the
  * schedule is deterministic and engine-replayable; both pcts round
  * to the 1e-6 grid at the edge.
  *
  * Output: input rows + `band` (0-based, easiest first) +
  * `within_pct` (progress inside the band). The schedule order is
  * `ORDER BY within_pct, band, <difficulty, tie-break>`. */
object Curriculum {

  /** @param checkpointDir when set, the banded-frame pin uses RELIABLE
    *   `checkpoint()` into this directory (HDFS/object store on a real
    *   cluster) — a local checkpoint stores corpus-sized blocks on
    *   executors with NO lineage to recover them, so at the 100 TB
    *   target a single lost executor kills the whole schedule job.
    *   Unset, the pin takes the session default (a local checkpoint
    *   in dev/local, which avoids the disk round-trip). The same dual [[graft.dedup.Dedup
    *   .connectedComponents]] exposes; a checkpoint dir the session
    *   already configured wins over this one
    *   ([[Checkpoints.pin]] never clobbers session-global state). */
  def interleave(df: DataFrame, difficultyCol: String, nBands: Int,
                 checkpointDir: Option[String] = None): DataFrame = {
    require(nBands > 0, s"nBands must be positive, got $nBands")
    // pin the banded frame: the grouped rank below runs several jobs
    // (per-band cut sketch, lane counts, the rank join) and each would
    // otherwise re-execute the whole global-rank pipeline (the
    // PerplexityBuckets/Labeling multi-scan lesson)
    val banded = RankNormalize(df, difficultyCol)
      .withColumn("band",
        least(floor(col("rank_pct") * nBands), lit(nBands - 1).cast("long"))
          .cast("int"))
      .drop("rank_pct")
    val ranked = Checkpoints.pin(banded, checkpointDir)
    val within = RankNormalize.grouped(ranked, col("band"), difficultyCol)
    within.withColumn("within_pct",
        floor(col("rank_pct") * 1e6 + 0.5) / 1e6)
      .drop("rank_pct")
  }
}
