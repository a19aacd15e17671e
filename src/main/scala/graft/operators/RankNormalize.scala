package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Percent-rank feature normalization — `percent_rank()` semantics
  * ((rank − 1)/(n − 1), ties share the rank of their first position)
  * without the one-task global window that `percent_rank() OVER
  * (ORDER BY v)` plans to: heavy-tailed features (prices, token
  * counts, degree counts) normalize onto [0, 1] for training by
  * exactly this transform, and at 100 TB the window form funnels every
  * row through a single task.
  *
  * Decomposition (the same two-level lane shape as [[KsDrift]] /
  * [[BucketedPrefixSum]]): collapse to distinct values with counts
  * (map-side combined), lane by equi-depth sketch cuts
  * ([[Analytics.qsketchRangeBuckets]] — pure-map assignment, lanes
  * respect value order), per-lane EXCLUSIVE prefix-count plus an
  * exclusive per-lane offset (nLanes-row window), giving each distinct
  * value its strictly-below count; rows then join their value's rank
  * in one equi-join. `below/(n − 1)` is a single IEEE division — exact
  * on any engine; callers round at the edge. Ties: every duplicate of
  * a value shares `below`, which IS percent_rank's tie rule. Up to
  * [[LanedPrefix.BroadcastRowCap]] distinct values the prefix finishes
  * on the driver instead, with no sketch and no window (6 jobs, from 11).
  *
  * Output: the input rows + `rank_pct` (null-`valueCol` rows are
  * dropped, like the window form drops nothing but ranks nulls first —
  * callers who need nulls keep them upstream). A single-row corpus
  * gets rank_pct 0.0 (the 0/0 guard). */
object RankNormalize {
  def apply(df: DataFrame, valueCol: String, k: Int = 1024,
            nLanes: Int = 32): DataFrame = {
    // filter on the TRY_CAST: a non-numeric string is non-null but
    // casts to null (ANSI off) — it would group under the nulls-first
    // __v=null row, inflate every exclusive prefix and the n−1
    // denominator, then vanish in the join-back (null never
    // equi-joins), silently shifting every returned rank. try_cast
    // keeps that semantics identical under ANSI, where a plain cast
    // would instead throw mid-scan.
    val vNum = expr(s"try_cast(`$valueCol` AS DOUBLE)")
    val nn = df.where(vNum.isNotNull)
    val vals = nn.groupBy(vNum.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val (cum, totals) = LanedPrefix.withPrefix(vals, "__v",
      Seq("__c"), k, nLanes, inclusive = false)
    val ranked = cum
      .crossJoin(broadcast(totals.select(col("__c_tot").as("__n"))))
      .select(col("__v"),
        when(col("__n") > 1, col("__c_cum").cast("double") /
          (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)).as("rank_pct"))
    nn.join(ranked, vNum === ranked("__v"))
      .drop("__v")
  }

  /** Per-group percent-rank — "normalize within language / within
    * source", where single groups can themselves be 100 TB-sized: the
    * plain `percent_rank() OVER (PARTITION BY g ORDER BY v)` funnels
    * each whole group through one task, while this form lanes every
    * group's domain by its own cuts
    * ([[LanedPrefix.withPrefixGrouped]]) so no task ever sees more
    * than a (group, lane) slice. Tie and (n−1) semantics identical to
    * the global form, per group; null groups are dropped with the
    * null values. Output: input rows + `rank_pct`. */
  def grouped(df: DataFrame, groupCol: Column, valueCol: String,
              k: Int = 1024, nLanes: Int = 32): DataFrame = {
    val vNum = expr(s"try_cast(`$valueCol` AS DOUBLE)")
    val gStr = groupCol.cast("string")
    val nn = df.where(vNum.isNotNull && gStr.isNotNull)
    val vals = nn.groupBy(gStr.as("__gk"), vNum.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val (cum, totals) = LanedPrefix.withPrefixGrouped(vals, "__gk", "__v",
      Seq("__c"), k, nLanes, inclusive = false)
    // totals arrives row-cap-hinted from LanedPrefix: broadcast while
    // the per-group table provably fits, planner-chosen beyond
    // (round-13 ADVICE)
    val ranked = cum
      .join(totals.select(col("__gk"), col("__c_tot").as("__n")),
        "__gk")
      .select(col("__gk"), col("__v"),
        when(col("__n") > 1, col("__c_cum").cast("double") /
          (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)).as("rank_pct"))
    nn.join(ranked, gStr === ranked("__gk") && vNum === ranked("__v"))
      .drop("__gk", "__v")
  }
}
