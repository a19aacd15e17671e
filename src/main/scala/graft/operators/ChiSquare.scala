package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Chi-squared test of independence between two categoricals — "is
  * `lang` independent of `source`", the contingency-table audit a
  * corpus-balance report runs next to the entropy/mixture numbers: a
  * large statistic means the mix is NOT a product of its margins
  * (some source is skewed toward some language).
  *
  * Shape: ONE grouped count builds the observed contingency table
  * (map-side combined, |A|·|B| rows), margins are two label-sized
  * aggregates joined back (the margin frames are category-sized —
  * broadcast), and each cell's expected count e = row·col/n and term
  * (o − e)²/e are pure per-row maps.
  *
  * The output is ONE ROW PER OBSERVED CELL (e and term rounded at
  * 1e-6) — per the engine's audit convention the float χ² total is
  * NOT summed across rows (cross-partition double addition is
  * order-nondeterministic); Σ term is the consumer's fold over a
  * cell-count-sized frame, and the degrees of freedom
  * (|A|−1)·(|B|−1) derive from the margins it already has. Zero
  * observed cells contribute no row (their e > 0 terms belong to the
  * exact-test variant, not this audit's screen). Null categories on
  * either column are dropped. Output: (a, b, o, e, chi2_term). */
object ChiSquare {
  def independence(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.cast("string").as("a"),
        bCol.cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .transform(d => Checkpoints.pin(d)) // |A|·|B| rows; feeds margins + cells
    val rowM = cells.groupBy("a").agg(sum("o").as("rown"))
    val colM = cells.groupBy("b").agg(sum("o").as("coln"))
    val tot = cells.agg(sum("o").as("n"))
    val e = col("rown").cast("double") * col("coln").cast("double") /
      col("n").cast("double")
    val term = (col("o").cast("double") - e) *
      (col("o").cast("double") - e) / e
    cells
      .join(broadcast(rowM), "a")
      .join(broadcast(colM), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("o"),
        (floor(e * 1e6 + 0.5) / 1e6).as("e"),
        (floor(term * 1e6 + 0.5) / 1e6).as("chi2_term"))
  }
}
