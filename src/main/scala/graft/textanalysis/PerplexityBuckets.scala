package graft.textanalysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Checkpoints}

/** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
  * document under ITS OWN language's LM, then split each language into
  * head / middle / tail terciles by score — the standard crawl-quality
  * triage that feeds "train on head+middle, audit tail". The LM here
  * is the [[UnigramLm]] add-1 unigram (the cheap stand-in the pipeline
  * shape doesn't depend on); the cuts are EXACT per-language terciles
  * via [[Analytics.exactQuantilesSelectGrouped]] — no sampled sketch,
  * so the assignment replays exactly.
  *
  * Shape at scale: the per-language model is one grouped (lang, token)
  * count (map-side combined) joined back to the token stream — the
  * same two-scan shape as [[UnigramLm.scoreDocs]] with a composite
  * key; the tercile selection reads only O(|langs| · 2) boundary rows
  * to the driver; bucket assignment is a broadcast cut-table join +
  * pure map. Cut values round to the same 1e-4 grid as the scores
  * before comparison, so boundary docs classify identically in any
  * engine. */
object PerplexityBuckets {

  /** Per-document mean token log-prob under the doc's own language
    * model: (id, lang, n_tokens, avg_logprob·1e-4-rounded). Empty and
    * null-lang docs drop. */
  def perLangLogprob(df: DataFrame, idCol: String, textCol: String,
                     langCol: String): DataFrame = {
    val toks = df
      .where(col(textCol).isNotNull && length(trim(col(textCol))) > 0 &&
        col(langCol).isNotNull)
      .select(col(idCol).as("id"), col(langCol).as("lang"),
        explode(split(trim(col(textCol)), "\\s+")).as("__w"))
    val model = toks.groupBy("lang", "__w").agg(count(lit(1)).as("__c"))
    val stats = model.groupBy("lang")
      .agg(sum("__c").as("__T"), count(lit(1)).as("__V"))
    // per-(lang, word) log-prob fixed-pointed to 1e-6 LONGS at the one
    // place a transcendental runs (once per unique pair, ln fed an
    // exact integer ratio); the per-doc accumulation is then an exact
    // long sum — a plain double avg() would make a doc sitting exactly
    // on the 1e-4 rounding boundary classify differently across
    // engines/summation orders (the Dsir.logRatios recipe)
    val scored = model.join(broadcast(stats), Seq("lang"))
      .select(col("lang"), col("__w"),
        floor(log((col("__c") + 1L).cast("double") /
            (col("__T") + col("__V")).cast("double")) * 1e6 + 0.5)
          .cast("long").as("__lp_e6"))
    // avg·1e4 = sum_e6 / (100·n): one exact-long-over-exact-long double
    // division (IEEE correctly-rounded, identical in any engine), then
    // the 1e-4 grid snap
    toks.join(scored, Seq("lang", "__w"))
      .groupBy("id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum("__lp_e6").cast("double") /
          (count(lit(1)) * 100L).cast("double") + 0.5) / 1e4)
          .as("avg_logprob"))
  }

  /** Head/middle/tail assignment per language over [[perLangLogprob]]
    * scores (head = top tercile by log-prob = lowest perplexity).
    * Returns the per-doc frame with a `bucket` column.
    *
    * @param checkpointDir the scores frame is CORPUS-sized and feeds
    *   several jobs — when set, it pins via reliable `checkpoint()`
    *   (cluster durability, the [[graft.operators.Curriculum]]
    *   contract) instead of the session default. */
  def assign(rawScores: DataFrame,
             checkpointDir: Option[String] = None): DataFrame = {
    // the tercile selection runs several jobs (lane counts, boundary
    // fetch) and the bucket join reads the frame once more — without
    // pinning, the whole two-scan LM pipeline re-executes per job (the
    // Labeling multi-scan lesson): measured 114 s -> 23 s at 2M
    // synthetic docs with the checkpoint
    val scores = Checkpoints.pin(rawScores, checkpointDir)
    val cuts = Analytics.exactQuantilesSelectGrouped(scores, "lang",
        col("id"), "avg_logprob",
        Seq("q33" -> (1.0 / 3.0), "q67" -> (2.0 / 3.0)),
        k = 1024, nBuckets = 32)
      .groupBy(col("lang"))
      .pivot("prob", Seq("q33", "q67")).agg(first("exact_q"))
      .select(col("lang"),
        (floor(col("q33") * 1e4 + 0.5) / 1e4).as("__q33"),
        (floor(col("q67") * 1e4 + 0.5) / 1e4).as("__q67"))
    assignByCuts(scores, cuts)
  }

  /** Bucket assignment against a per-language cut table
    * (lang, __q33, __q67) — broadcast join + pure map, shared by the
    * exact [[assign]] and the sketch-based streaming twin. */
  private def assignByCuts(scores: DataFrame, cuts: DataFrame): DataFrame =
    scores.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when(col("avg_logprob") > col("__q67"), "head")
          .when(col("avg_logprob") > col("__q33"), "middle")
          .otherwise("tail"))
      .drop("__q33", "__q67")

  /** STREAMING-twin cut table: per-language q33/q67 read off the
    * bounded keyed quantile sketch ([[graft.streaming.StreamingQsketch]]
    * — one ≤ K-row bottom-K-by-uniform-hash sample per language) in
    * place of the exact tercile selection. Over an unbounded feed the
    * same fold runs live via `StreamingQsketch.keyedStream`; this is
    * the order-free batch replay of that fold's END state, so the cuts
    * an unbounded run converges to are exactly these (the
    * StreamingImportance convention). Cuts snap to the same 1e-4 grid
    * as the scores before comparison, mirroring [[assign]]. */
  def streamingCuts(scores: DataFrame): DataFrame =
    graft.streaming.StreamingQsketch.keyedQuantiles(
        graft.streaming.StreamingQsketch.keyedEndStates(
          scores, "lang", col("id"), "avg_logprob"),
        Seq("q33" -> (1.0 / 3.0), "q67" -> (2.0 / 3.0)))
      .groupBy(col("key"))
      .pivot("prob", Seq("q33", "q67")).agg(first("est_q"))
      .select(col("key").as("lang"),
        (floor(col("q33") * 1e4 + 0.5) / 1e4).as("__q33"),
        (floor(col("q67") * 1e4 + 0.5) / 1e4).as("__q67"))

  /** The per-(lang, bucket) triage summary off the STREAMING sketch
    * cuts — the unbounded-feed sibling of [[summary]]: identical
    * scores, identical assignment rule, cuts from the bounded keyed
    * sketch instead of the exact selection. The scores frame pins
    * eagerly: the sketch replay (distinct + count + top-K) and the
    * assignment join would otherwise re-run the two-scan LM per job
    * (the [[assign]] lesson) — reliable `checkpoint()` when
    * `checkpointDir` is set, `localCheckpoint` in dev, the same
    * durability dual as [[assign]]. */
  def streamingSummary(df: DataFrame, idCol: String, textCol: String,
                       langCol: String,
                       checkpointDir: Option[String] = None): DataFrame = {
    val scores = Checkpoints.pin(
      perLangLogprob(df, idCol, textCol, langCol), checkpointDir)
    assignByCuts(scores, streamingCuts(scores))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("avg_logprob").as("lp_min"),
        max("avg_logprob").as("lp_max"))
  }

  /** The per-(lang, bucket) triage summary a curation run reports:
    * doc/token counts and the score range each bucket spans. */
  def summary(df: DataFrame, idCol: String, textCol: String,
              langCol: String,
              checkpointDir: Option[String] = None): DataFrame =
    assign(perLangLogprob(df, idCol, textCol, langCol), checkpointDir)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("avg_logprob").as("lp_min"),
        max("avg_logprob").as("lp_max"))
}
