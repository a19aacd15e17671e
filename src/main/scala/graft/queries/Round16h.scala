package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Dsir
import graft.streaming.StreamingImportance

/** Round-16 eighth batch: the streaming twin of the importance
  * resampler — "keep the best k docs seen so far" as a bounded-state
  * shard-top-k, merged to the exact global answer. The gate runs the
  * order-free batch replay of the stream fold (the StreamingQsketch
  * convention) and must land the IDENTICAL rows the one-shot
  * `sample_importance` gate lands, which is exactly what its oracle
  * re-asserts. */
object Round16h extends GateBatch {

  private val Shards = 16
  private val K = 100

  val defs: Map[String, Q] = Map(

    "stream_importance_topk" -> ((s, dir) => {
      val keyed = Dsir.withGumbelKey(
        Dsir.importanceWeights(tbl(s, dir, "documents"), "doc_id",
          "text", col("lang") === "en", buckets = 2048))
      StreamingImportance.merged(
          StreamingImportance.replayShards(keyed,
            pmod(col("id"), lit(Shards)), Shards, K), K)
        .orderBy(col("key_ppm").desc, col("id"))
    }))

  val oracles: Map[String, String] = Map(

    // the stream's merged answer IS the batch top-k — same oracle as
    // sample_importance, re-derived so the twin is independently pinned
    "stream_importance_topk" ->
      s"""WITH ${Round16e.dsirWeightCtes()}, ${Round16e.gumbelKeyedCte}
         SELECT id, is_target, n_tokens, logw_ppm, key_ppm FROM keyed
         ORDER BY key_ppm DESC, id LIMIT $K""")
}
