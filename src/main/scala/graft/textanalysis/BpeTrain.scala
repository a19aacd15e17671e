package graft.textanalysis

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE merge training (the tokenizer-building pass of a
  * training-data pipeline), shaped the way real trainers shape it:
  *
  *  1. ONE corpus-scale pass counts word frequencies — the only shuffle
  *     that ever touches the raw text. 100 TB of text collapses to its
  *     unique-word table (vocabulary), which is what every iteration
  *     operates on.
  *  2. Each merge step counts adjacent symbol pairs over the (pinned)
  *     vocabulary weighted by word frequency — a partial-agg groupBy on
  *     a table of unique words, not documents — takes the global argmax
  *     (a 1-row reduce, the same driver shape as the k-means centroid
  *     and PageRank iterations), and applies the merge to every word's
  *     symbol sequence as a pure-map higher-order `aggregate` fold
  *     (greedy left-to-right, the standard BPE application order).
  *
  * No UDFs: the fold is a codegen-able Catalyst lambda; the per-step
  * driver traffic is one (pair, count) row. Reference semantics:
  * Sennrich et al. 2016 "Neural Machine Translation of Rare Words with
  * Subword Units", the merge loop of `learn_bpe`.
  */
object BpeTrain {

  private def sqlQuote(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Word → frequency vocabulary with each word as a space-joined
    * character-symbol sequence. The single corpus-scale aggregation. */
  def vocabulary(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // split("") leaves a trailing empty element (Java regex, limit -1)
      .select(array_join(filter(split(col("w"), ""),
        x => length(x) > 0), " ").as("seq"), col("freq"))

  /** Learn `nMerges` merges; returns (step, lhs, rhs, merged, cnt)
    * ordered by step. Ties on count break lexicographically so the
    * result is deterministic and engine-replayable. */
  def trainMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive: $nMerges")
    val spark = df.sparkSession
    // each merge step pins the rewritten vocabulary and releases the
    // previous step's, so one step's blocks are live at a time
    val roll = new graft.operators.Checkpoints.Rolling()
    var vocab = roll(vocabulary(df, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    try {
      var step = 1
      var exhausted = false
      // the merge loop runs over the PINNED unique-word vocabulary,
      // a bounded table with a fixed per-step plan shape — static
      // planning ([[graft.operators.StaticPlanning]], round 19) books
      // two jobs per merge (argmax collect + re-pin) instead
      // of one AQE stage job per exchange; the corpus-scale vocabulary
      // build above keeps the session's adaptivity
      graft.operators.StaticPlanning.statically(spark) {
      while (step <= nMerges && !exhausted) {
        val l = split(col("seq"), " ")
        val best = vocab
          .select(col("freq"), explode(zip_with(
            slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
          .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (a, b, cnt) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += Row(step, a, b, a + b, cnt)
          val (qa, qb, qm) = (sqlQuote(a), sqlQuote(b), sqlQuote(a + b))
          val applied = expr(
            s"""array_join(aggregate(split(seq, ' '),
               cast(array() as array<string>),
               (acc, x) -> CASE WHEN size(acc) > 0
                   AND element_at(acc, -1) = '$qa' AND x = '$qb'
                 THEN concat(slice(acc, 1, size(acc) - 1), array('$qm'))
                 ELSE concat(acc, array(x)) END), ' ')""")
          vocab = roll(vocab.select(applied.as("seq"), col("freq")))
          step += 1
        }
      }
      } // statically
    } finally roll.close()
    spark.createDataFrame(spark.sparkContext.parallelize(merges.toSeq, 1),
      StructType(Seq(StructField("step", IntegerType, nullable = false),
        StructField("lhs", StringType, nullable = false),
        StructField("rhs", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false))))
  }

  /** Segment `textCol` with an already-learned merge list: the same
    * greedy fold applied per word, merges in learned order — the
    * inference-side twin of [[trainMerges]], a pure map over the corpus
    * (the merge table rides along as a local literal sequence, the
    * Spark analogue of broadcasting the tokenizer file). Output:
    * original columns + `bpe_tokens` array<string>. */
  def segment(df: DataFrame, textCol: String,
              merges: Seq[(String, String)]): DataFrame = {
    val chars = "filter(split(w, ''), c -> length(c) > 0)"
    val fold = merges.foldLeft(chars) { case (inner, (a, b)) =>
      val (qa, qb, qm) = (sqlQuote(a), sqlQuote(b), sqlQuote(a + b))
      s"""aggregate($inner, cast(array() as array<string>),
         (acc, x) -> CASE WHEN size(acc) > 0
             AND element_at(acc, -1) = '$qa' AND x = '$qb'
           THEN concat(slice(acc, 1, size(acc) - 1), array('$qm'))
           ELSE concat(acc, array(x)) END)"""
    }
    df.withColumn("bpe_tokens",
      expr(s"""flatten(transform(
        filter(split(trim($textCol), '\\\\s+'), w -> length(w) > 0),
        w -> $fold))"""))
  }
}
