package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cohen's kappa — chance-corrected agreement between two labelers
  * over the same items: κ = (p_o − p_e)/(1 − p_e), where p_o is the
  * observed agreement rate and p_e the agreement expected from the
  * two labelers' marginal label distributions. THE quality number for
  * a labeling pipeline (human vs model, model vs model, old prompt vs
  * new prompt): raw agreement flatters any skewed label set; kappa
  * doesn't.
  *
  * Exactness: everything up to the final two divisions is INTEGER —
  * n and the diagonal count are plain counts, and p_e's numerator
  * Σ_k row_k·col_k accumulates in DECIMAL(38,0) (products of two
  * counts overflow a long near 2^31.5 rows per label; 38 digits hold
  * any 10^12-row corpus), so both engines compute identical p_o, p_e
  * and the single κ expression replays bit-for-bit, rounded at 1e-6.
  *
  * Shape: one grouped count over (labelA, labelB) — the confusion
  * matrix, map-side combined, |labels|² rows — then label-sized
  * margin aggregates and a 1-row reduce. Rows where either label is
  * null are dropped (un-labeled items don't vote). Degenerate p_e = 1
  * (both labelers constant and equal) yields κ = 1 when p_o = 1 by
  * convention. Output: one row (n, p_o, p_e, kappa). */
object Kappa {
  def cohen(df: DataFrame, labelA: Column, labelB: Column): DataFrame = {
    val cells = df.select(labelA.cast("string").as("la"),
        labelB.cast("string").as("lb"))
      .where(col("la").isNotNull && col("lb").isNotNull)
      .groupBy("la", "lb").agg(count(lit(1)).as("o"))
      .transform(d => Checkpoints.pin(d)) // |labels|² rows; feeds margins + diagonal
    val rowM = cells.groupBy("la").agg(sum("o").as("rown"))
    val colM = cells.groupBy("lb").agg(sum("o").as("coln"))
    // Σ_k row_k·col_k over the shared label set: the margins join on
    // the label value (a label missing from one side contributes 0)
    val peNum = rowM.join(colM, col("la") === col("lb"))
      .select((col("rown").cast("decimal(38,0)") *
        col("coln").cast("decimal(38,0)")).as("rc"))
      .agg(coalesce(sum("rc"), lit(0).cast("decimal(38,0)")).as("pe_num"))
    val agg = cells.agg(
      sum("o").as("n"),
      sum(when(col("la") === col("lb"), col("o")).otherwise(0L))
        .as("diag"))
    val po = col("diag").cast("double") / col("n").cast("double")
    val pe = col("pe_num").cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    val kappa = when(pe === 1.0, when(po === 1.0, 1.0).otherwise(0.0))
      .otherwise((po - pe) / (lit(1.0) - pe))
    agg.crossJoin(broadcast(peNum))
      .where(col("n") > 0)
      .select(col("n"),
        (floor(po * 1e6 + 0.5) / 1e6).as("p_o"),
        (floor(pe * 1e6 + 0.5) / 1e6).as("p_e"),
        (floor(kappa * 1e6 + 0.5) / 1e6).as("kappa"))
  }

  /** Fleiss' kappa — chance-corrected agreement for a PANEL: each item
    * rated by the same number `raters` of labelers (Fleiss 1971, the
    * multi-rater generalization real labeling pipelines need once the
    * panel grows past two). Input is one row per RATING (item, label);
    * rater identity is irrelevant — Fleiss' statistic depends only on
    * the per-item category counts n_ij, which is also why it is
    * trivially invariant under rater permutation (property-tested).
    * Items that do not carry exactly `raters` ratings are dropped (the
    * statistic is undefined off the constant-panel design; the caller
    * decides how to slice to one).
    *
    *   P_i  = (Σ_j n_ij² − n) / (n(n−1))      per-item agreement
    *   P̄   = mean_i P_i = (Σ_i Σ_j n_ij² − N·n) / (N·n·(n−1))
    *   p_j  = Σ_i n_ij / (N·n),  P̄_e = Σ_j p_j²
    *   κ    = (P̄ − P̄_e) / (1 − P̄_e)
    *
    * Exactness: both numerators are INTEGERS — Σ n_ij² and the column
    * sums' squares Σ (Σ_i n_ij)² accumulate in DECIMAL(38,0) (the
    * column-sum square overflows a long near 2^31.5 ratings per label)
    * — so both engines derive κ from identical integers and the final
    * divisions replay bit-for-bit, rounded at 1e-6. Degenerate
    * P̄_e = 1 (every rating one label) yields κ = 1 when P̄ = 1 by
    * convention, matching [[cohen]].
    *
    * Shape: one grouped count over (item, label) — map-side combined,
    * at most |items|·|labels| rows — a per-item Σn², two global
    * reduces, and a |labels|-sized margin aggregate; no driver state.
    * Output: one row (n_items, n_raters, p_bar, p_e, kappa). */
  def fleiss(df: DataFrame, itemCol: Column, labelCol: Column,
             raters: Int): DataFrame = {
    require(raters >= 2, s"a panel needs at least 2 raters, got $raters")
    val cells = df.select(itemCol.cast("string").as("item"),
        labelCol.cast("string").as("label"))
      .where(col("item").isNotNull && col("label").isNotNull)
      .groupBy("item", "label").agg(count(lit(1)).as("c"))
      .transform(d => Checkpoints.pin(d)) // ≤ |items|·|labels| rows; feeds items + margins
    // constant-panel slice: keep items with exactly `raters` ratings
    val eligible = cells.groupBy("item")
      .agg(sum("c").as("tot"),
        sum(col("c") * col("c")).as("s2"))
      .where(col("tot") === raters.toLong)
      .transform(d => Checkpoints.pin(d)) // one row per eligible item
    val tops = eligible.agg(
      count(lit(1)).as("n_items"),
      coalesce(sum(col("s2").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s2_sum"))
    val peNum = cells.join(eligible.select("item"), "item")
      .groupBy("label").agg(sum("c").as("cj"))
      .select((col("cj").cast("decimal(38,0)") *
        col("cj").cast("decimal(38,0)")).as("cj2"))
      .agg(coalesce(sum("cj2"), lit(0).cast("decimal(38,0)")).as("pe_num"))
    val n = lit(raters.toLong).cast("double")
    val nItems = col("n_items").cast("double")
    val pBar = (col("s2_sum").cast("double") - nItems * n) /
      (nItems * n * (n - 1.0))
    val pe = col("pe_num").cast("double") / (nItems * n * nItems * n)
    val kappa = when(pe === 1.0, when(pBar === 1.0, 1.0).otherwise(0.0))
      .otherwise((pBar - pe) / (lit(1.0) - pe))
    tops.crossJoin(broadcast(peNum))
      .where(col("n_items") > 0)
      .select(col("n_items"), lit(raters.toLong).as("n_raters"),
        (floor(pBar * 1e6 + 0.5) / 1e6).as("p_bar"),
        (floor(pe * 1e6 + 0.5) / 1e6).as("p_e"),
        (floor(kappa * 1e6 + 0.5) / 1e6).as("kappa"))
  }
}
