package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import graft.operators.{Checkpoints, MisraGries}

/** Streaming heavy hitters — the unbounded-feed sibling of
  * [[graft.operators.HeavyHitters]]: each shard lane folds its events
  * into a k-counter Misra-Gries summary (`transformWithState`; k
  * (string, long) pairs of state per lane, forever), and because MG
  * summaries are MERGEABLE with the superset guarantee intact, the
  * union of lane candidates at any moment covers every key whose
  * global share exceeds 1/(k+1) — one bounded exact-count pass turns
  * that into the exact current answer, the same two-pass shape as the
  * batch operator.
  *
  * Emission contract mirrors [[StreamingQsketch]]: after each
  * micro-batch a touched lane re-emits its whole summary stamped with
  * the cumulative fold count; the latest emission per lane (max
  * `n_seen`) IS the lane state. In-lane fold order follows arrival
  * order within each micro-batch — any order preserves the guarantee
  * (that is what mergeability buys), and [[replayShards]] reproduces
  * the state bit-identically for a known feed order, which the spec
  * pins across micro-batch splits.
  */
object StreamingTopK {

  case class HhEvent(shard: Int, key: String)
  case class HhOut(shard: Int, n_seen: Long, key: String, lb: Long)

  private class MgState(k: Int)
      extends StatefulProcessor[Int, HhEvent, HhOut] {
    @transient private var state: ValueState[MisraGries.Buf] = _
    @transient private lazy val mg = new MisraGries(k)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MisraGries.Buf]("mg",
        Encoders.product[MisraGries.Buf], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[HhEvent],
        timers: TimerValues): Iterator[HhOut] = {
      val prev = if (state.exists()) state.get() else mg.zero
      val next = rows.foldLeft(prev)((b, r) => mg.reduce(b, r.key))
      state.update(next)
      next.counters.toSeq.sortBy(_._1).iterator.map { case (kk, c) =>
        HhOut(key, next.n, kk, c)
      }
    }

    override def handleExpiredTimer(key: Int, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[HhOut] = Iterator.empty
  }

  /** Streaming form: per micro-batch each touched lane re-emits its
    * updated ≤ k-counter summary stamped with the cumulative fold
    * count. Requires the RocksDB state store. */
  def topkStream(events: Dataset[HhEvent], k: Int): Dataset[HhOut] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.shard)
      .transformWithState(new MgState(k), TimeMode.None(),
        OutputMode.Append())
  }

  /** Batch replay of the per-lane end state for a known feed order:
    * fold each lane's rows through the same MG kernel in ascending
    * `orderCol` order. Output: (shard, n_seen, key, lb) — one row per
    * surviving counter. Lane rows sort in memory (a lane's batch is
    * the replay unit); for order-free batch candidates at scale use
    * [[graft.operators.HeavyHitters.exact]], whose guarantee needs no
    * order. */
  def replayShards(df: DataFrame, shardCol: Column, orderCol: Column,
                   keyCol: Column, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mg = new MisraGries(k)
    df.select(shardCol.cast("int").as("shard"),
        orderCol.cast("long").as("o"), keyCol.cast("string").as("k"))
      .where(col("k").isNotNull)
      .as[(Int, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, rows) =>
        val end = rows.toSeq.sortBy(_._2).map(_._3)
          .foldLeft(mg.zero)(mg.reduce)
        end.counters.toSeq.sortBy(_._1).iterator.map { case (kk, c) =>
          HhOut(shard, end.n, kk, c)
        }
      }.toDF()
  }

  /** Lane summaries → the exact current heavy hitters: union the lane
    * candidates (≤ shards·k strings — the bounded "merge"), then one
    * exact count over only those keys. The superset guarantee survives
    * the union because each lane's summary covers its own share of the
    * stream. Output: (k, cnt, share) — identical to the batch
    * operator's contract.
    *
    * The total `n` is derived from the CORPUS, inside the same scan
    * that counts the candidates (non-candidate rows collapse into one
    * null group, so `n = Σ cnt`): a lane whose MG state decremented to
    * empty emits no summary rows at all, so any n reconstructed from
    * lane emissions can be missing or stale — undercounting n lowers
    * the `cnt > n·minShare` bar (false positives) and inflates every
    * reported share. Candidate-count and total come out of ONE
    * aggregate; the ≤ shards·k + 1 row result joins its own 1-row sum,
    * both broadcast-sized. Empty candidates / empty corpus yield an
    * empty result instead of an NPE.
    *
    * The candidate set stays distributed — a broadcast LEFT join
    * against the distinct lane keys (the pattern
    * [[graft.operators.HeavyHitters.exactGrouped]] uses), never an
    * `isin(...)` literal: at shards·k in the tens of thousands a
    * folded-in `In` list is an analyzer/codegen-size hazard and a
    * driver round-trip the join does not need. */
  def exactFromShards(laneStates: DataFrame, corpus: DataFrame,
                      keyCol: Column, minShare: Double): DataFrame = {
    val counts = candidateCounts(laneStates, corpus, keyCol)
      .transform(d => Checkpoints.pin(d)) // ≤ shards·k + 1 rows; corpus scans ONCE
    val tot = counts.agg(sum("cnt").as("n"))
    counts.where(col("k").isNotNull)
      .crossJoin(broadcast(tot))
      .where(col("cnt") > col("n") * lit(minShare))
      .select(col("k"), col("cnt"),
        (col("cnt") / col("n").cast("double")).as("share"))
  }

  /** The single corpus scan behind [[exactFromShards]], exposed so the
    * plan (broadcast candidate join, no `In` literal) stays spec-
    * assertable — `localCheckpoint` in the caller otherwise erases the
    * lineage the assertion needs to see. */
  private[graft] def candidateCounts(laneStates: DataFrame,
      corpus: DataFrame, keyCol: Column): DataFrame = {
    val cands = laneStates.select(col("key").cast("string").as("ck"))
      .where(col("ck").isNotNull).distinct()
    val keyed = corpus.select(keyCol.cast("string").as("k"))
      .where(col("k").isNotNull)
    keyed.join(broadcast(cands), col("k") === col("ck"), "left")
      .groupBy(col("ck").as("k"))
      .agg(count(lit(1)).as("cnt"))
  }
}
