package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy string self-join: pairs of values within a Levenshtein edit
  * distance, blocked so the corpus never goes all-pairs.
  *
  * Shape (the same discipline as the MinHash band join in
  * `dedup.Dedup`): collapse to DISTINCT strings first (duplicate
  * occurrences of a template cost nothing), explode each string to its
  * blocking tokens, equi-join on the token, and fuse the edit-distance
  * verify INTO the join condition so non-matching candidates die inside
  * the join instead of materializing. Emits each surviving pair once
  * (`a < b`) with its distance.
  *
  * Token blocking trades recall for scale: a pair sharing NO whitespace
  * token is never considered (for word-structured names — product
  * titles, addresses — an edit within `maxDist` of a multi-word string
  * almost always leaves some token intact; single-token strings fall
  * back to exact-token candidates only). `maxTokenDf` drops tokens whose
  * document frequency exceeds the cap — the stop-token guard that keeps
  * one hot token ("the", a ubiquitous brand word) from re-creating the
  * quadratic blow-up inside its block. Dropped-token pairs may be
  * missed; at 100 TB that cap is the difference between a bounded
  * equi-join and an accidental cross join, and the gate's oracle applies
  * the IDENTICAL rule so the trade is pinned, not hidden.
  */
object FuzzyJoin {

  /** Entity resolution over a string key: fuzzy-match pairs
    * ([[selfPairs]]) become edges, transitive closure
    * (`Dedup.connectedComponents`) merges chains of near-matches into
    * entities, and each entity takes its minimum-id member as the
    * canonical representative. One row per DISTINCT key value:
    * (name, name_id, entity_id, canonical) — `entity_id` is the
    * cluster's minimum name_id, `canonical` that node's name.
    *
    * `idCol` supplies a stable numeric id per row; a key appearing many
    * times gets min(id) as its name_id, so the output (and the chosen
    * canonicals) is deterministic and engine-replayable. The component
    * step inherits connectedComponents' two branches — a driver
    * union-find up to `Dedup.DriverPairCap` pairs, else O(log diameter)
    * rounds of hash joins with lineage truncated per round. */
  def entityClusters(df: DataFrame, keyCol: String, idCol: String,
                     maxDist: Int,
                     maxTokenDf: Option[Long] = None): DataFrame = {
    val names = df.groupBy(col(keyCol).as("name"))
      .agg(min(col(idCol)).as("name_id"))
    val pairs = selfPairs(df, keyCol, maxDist, maxTokenDf)
      .join(names.select(col("name").as("a_name"), col("name_id").as("id_a")),
        "a_name")
      .join(names.select(col("name").as("b_name"), col("name_id").as("id_b")),
        "b_name")
      .select("id_a", "id_b")
    val comp = graft.dedup.Dedup.connectedComponents(
      pairs, "id_a", "id_b", names, "name_id")
    names
      .join(comp.select(col("name_id"),
        col("component_id").as("entity_id")), "name_id")
      .join(names.select(col("name_id").as("entity_id"),
        col("name").as("canonical")), "entity_id")
      .select("name", "name_id", "entity_id", "canonical")
  }

  def selfPairs(df: DataFrame, keyCol: String, maxDist: Int,
                maxTokenDf: Option[Long] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val names = df.select(col(keyCol).as("name")).distinct()
    val toks = names
      .select(col("name"), explode(split(trim(col("name")), "\\s+")).as("tok"))
      .distinct() // a token repeated within one name blocks once
    val blocked = maxTokenDf match {
      case Some(cap) =>
        val hot = toks.groupBy("tok").count().filter(col("count") > cap)
          .select("tok")
        toks.join(hot, Seq("tok"), "left_anti")
      case None => toks
    }
    // distinct attribute names on each side: a self-join on the shared
    // `tok` attribute would resolve both sides to the SAME expression id
    // and silently degrade the block equi-join to a cross join
    val a = blocked.select(col("tok").as("__atok"), col("name").as("a_name"))
    val b = blocked.select(col("tok").as("__btok"), col("name").as("b_name"))
    // the optimized bounded-distance form directly (what the
    // graft.plans.FuzzyMatchPruning rule would rewrite a naive
    // `levenshtein(a,b) <= d` into): O(1) length-difference prune, then
    // the banded O(d·n) DP via the thresholded kernel (−1 past d)
    val lenOk =
      abs(length(col("a_name")) - length(col("b_name"))) <= maxDist
    val levOk =
      levenshtein(col("a_name"), col("b_name"), maxDist) >= 0
    a.join(b,
        col("__atok") === col("__btok") && col("a_name") < col("b_name") &&
          lenOk && levOk)
      .select(col("a_name"), col("b_name"),
        levenshtein(col("a_name"), col("b_name"), maxDist).as("dist"))
      .distinct() // pairs sharing several tokens collapse to one row
  }
}
