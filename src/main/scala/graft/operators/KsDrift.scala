package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact two-sample Kolmogorov–Smirnov statistic — the
  * distribution-free companion to [[Analytics.driftPsi]]: PSI needs
  * bucket boundaries chosen up front and reports a bucketed score; KS
  * is `max over v of |F_base(v) − F_current(v)|` over the POOLED value
  * domain — no binning choice, sensitive to any shift — the number a
  * "did this feature drift between snapshots" monitor alarms on.
  *
  * Exact and distributed, never a one-task window: both samples union
  * into one grouped count per distinct value (map-side combined; the
  * per-side counts ride as conditional sums), distinct values lane by
  * equi-depth cuts off a bottom-k sketch
  * ([[Analytics.qsketchRangeBuckets]] — assignment is a pure map, and
  * lanes respect value order, so cross-lane prefixes compose), and the
  * two running counts decompose into a per-lane inclusive window plus
  * an exclusive per-lane-offset prefix (the [[BucketedPrefixSum]]
  * two-level shape, carried for BOTH sides in the same pass). The ECDF
  * difference is then a pure map over distinct values and the statistic
  * one max-aggregate. Up to [[LanedPrefix.BroadcastRowCap]] distinct
  * values both running counts finish on the driver (6 jobs, from 11).
  *
  * Replayability: cum/n is one IEEE double division per side, the
  * difference one subtraction — identical on any engine; the single
  * output row rounds the statistic to 1e-6 by the codebase's
  * floor(x·10⁶ + 0.5)/10⁶ convention. Output:
  * (ks_stat, n_base, n_current). Empty sides yield an empty frame
  * rather than a division by zero. */
object KsDrift {
  def ks(base: DataFrame, current: DataFrame, valueCol: String,
         k: Int = 1024, nLanes: Int = 32): DataFrame = {
    val a = base.select(col(valueCol).cast("double").as("v"),
      lit(1L).as("ca"), lit(0L).as("cb"))
    val b = current.select(col(valueCol).cast("double").as("v"),
      lit(0L).as("ca"), lit(1L).as("cb"))
    val vals = a.unionByName(b).where(col("v").isNotNull)
      .groupBy("v").agg(sum("ca").as("ca"), sum("cb").as("cb"))
    val (cum, totals) = LanedPrefix.withPrefix(vals, "v",
      Seq("ca", "cb"), k, nLanes, inclusive = true)
    cum
      .crossJoin(broadcast(
        totals.select(col("ca_tot").as("na"), col("cb_tot").as("nb"))))
      .where(col("na") > 0 && col("nb") > 0)
      .select(abs(col("ca_cum") / col("na").cast("double") -
        col("cb_cum") / col("nb").cast("double")).as("d"),
        col("na"), col("nb"))
      .agg((floor(max(col("d")) * 1e6 + 0.5) / 1e6).as("ks_stat"),
        max("na").as("n_base"), max("nb").as("n_current"))
      .where(col("ks_stat").isNotNull)
  }

  /** Per-group [[ks]] on the grouped laned prefix — "did THIS
    * segment's distribution drift between snapshots", the per-segment
    * drill-down a single pooled KS averages away. Same decomposition
    * per group (both sides' running counts in one pass, every window
    * partitioned by (group, lane)); groups with an empty side are
    * dropped like the global form's empty input. `groupCol` is
    * evaluated against each side, so both frames must carry it.
    * Output: (g, ks_stat, n_base, n_current), one row per group. */
  def ksGrouped(base: DataFrame, current: DataFrame, groupCol: Column,
                valueCol: String, k: Int = 1024,
                nLanes: Int = 32): DataFrame = {
    val a = base.select(groupCol.cast("string").as("g"),
      col(valueCol).cast("double").as("v"),
      lit(1L).as("ca"), lit(0L).as("cb"))
    val b = current.select(groupCol.cast("string").as("g"),
      col(valueCol).cast("double").as("v"),
      lit(0L).as("ca"), lit(1L).as("cb"))
    val vals = a.unionByName(b)
      .where(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g", "v").agg(sum("ca").as("ca"), sum("cb").as("cb"))
    val (cum, totals) = LanedPrefix.withPrefixGrouped(vals, "g", "v",
      Seq("ca", "cb"), k, nLanes, inclusive = true)
    // totals arrives row-cap-hinted from LanedPrefix: broadcast while
    // the per-group table provably fits, planner-chosen beyond
    // (round-13 ADVICE)
    cum
      .join(totals.select(col("g"),
        col("ca_tot").as("na"), col("cb_tot").as("nb")), "g")
      .where(col("na") > 0 && col("nb") > 0)
      .select(col("g"),
        abs(col("ca_cum") / col("na").cast("double") -
          col("cb_cum") / col("nb").cast("double")).as("d"),
        col("na"), col("nb"))
      .groupBy("g")
      .agg((floor(max(col("d")) * 1e6 + 0.5) / 1e6).as("ks_stat"),
        max("na").as("n_base"), max("nb").as("n_current"))
      .where(col("ks_stat").isNotNull)
  }
}
