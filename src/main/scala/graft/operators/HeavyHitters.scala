package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Misra-Gries frequent-items summary — the mergeable heavy-hitters
  * sketch (Agarwal et al., "Mergeable Summaries", PODS'12) that
  * completes the sketch family next to CMS (frequency GIVEN a key),
  * KMV (distinct counts) and the bottom-k quantile sketch: it FINDS
  * the keys whose share exceeds 1/(k+1) with k counters of state,
  * never materializing the distinct-key space.
  *
  * Why this matters at 100 TB: `GROUP BY key ORDER BY count DESC`
  * shuffles every distinct key — billions of URLs/shingles/tokens —
  * to find the handful that dominate. Misra-Gries keeps k counters
  * per partition, partial aggregation combines them map-side, and the
  * shuffle carries k (key, count) pairs per task. The summary is a
  * SUPERSET guarantee, not an estimate: after any sequence of
  * reduce/merge steps every key with true count > n/(k+1) is present
  * (decrements total at most n/(k+1) per key), so a second exact pass
  * over just the surviving ≤ k candidates turns the sketch into an
  * EXACT answer — the shape [[HeavyHitters.exact]] implements.
  *
  * reduce: +1 if tracked, insert if room, else decrement-all (the
  * classic amortized step). merge: sum counts, then subtract the
  * (k+1)-largest total from everything and keep positives — the
  * PODS'12 merge that preserves the error bound. Both are associative
  * enough for Spark's partial aggregation (the guarantee holds for
  * ANY reduce/merge tree, which is exactly what mergeability means).
  */
class MisraGries(k: Int)
    extends Aggregator[String, MisraGries.Buf, MisraGries.Summary] {
  import MisraGries.{Buf, Summary}
  require(k >= 1, s"k must be >= 1, got $k")

  override def zero: Buf = Buf(Map.empty, 0L)

  override def reduce(b: Buf, key: String): Buf = {
    val n = b.n + 1
    b.counters.get(key) match {
      case Some(c) => Buf(b.counters.updated(key, c + 1), n)
      case None if b.counters.size < k =>
        Buf(b.counters.updated(key, 1L), n)
      case None =>
        // decrement-all: one virtual occurrence of every tracked key
        // plus this one cancel out; zeros drop, freeing counters
        Buf(b.counters.flatMap { case (kk, c) =>
          if (c > 1) Some(kk -> (c - 1)) else None
        }, n)
    }
  }

  override def merge(x: Buf, y: Buf): Buf = {
    val summed = y.counters.foldLeft(x.counters) { case (m, (kk, c)) =>
      m.updated(kk, m.getOrElse(kk, 0L) + c)
    }
    val n = x.n + y.n
    if (summed.size <= k) Buf(summed, n)
    else {
      // subtract the (k+1)-th largest count from all; ≤ k survive
      val cut = summed.values.toSeq.sortBy(-_).apply(k)
      Buf(summed.flatMap { case (kk, c) =>
        if (c > cut) Some(kk -> (c - cut)) else None
      }, n)
    }
  }

  override def finish(r: Buf): Summary =
    Summary(r.counters.keys.toSeq.sorted, r.n)

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Summary] = Encoders.product[Summary]
}

object MisraGries {
  /** counters: tracked key -> lower-bound count; n: rows folded in. */
  case class Buf(counters: Map[String, Long], n: Long)

  /** candidates: every key that MIGHT exceed share 1/(k+1) (sorted so
    * the summary itself is deterministic); n: exact row count (rides
    * along so the caller never needs a separate count job). */
  case class Summary(candidates: Seq[String], n: Long)
}

/** Exact heavy hitters in two bounded-state passes (sketch + verify). */
object HeavyHitters {

  /** Keys of `keyCol` whose exact share exceeds `minShare`, with exact
    * counts — two scans, never a full `GROUP BY` over the distinct-key
    * space:
    *
    *  1. one [[MisraGries]] pass (k counters per task, map-side
    *     combined; k defaults to the tightest size guaranteeing the
    *     superset property for `minShare`, ceil(1/minShare));
    *  2. one exact count over ONLY the ≤ k candidate keys (broadcast
    *     `isin` literal filter → the groupBy aggregates at most k
    *     distinct keys however wide the corpus).
    *
    * The sketch pass is eager (it must run to plan the verify filter);
    * driver state is ≤ k strings. Null keys are ignored (no share).
    * Output: (key, cnt, share), share = cnt/n as an exact double
    * division both engines reproduce. */
  def exact(df: DataFrame, key: Column, minShare: Double,
            k: Int = 0): DataFrame = {
    require(minShare > 0 && minShare < 1, s"minShare in (0,1): $minShare")
    val kk = if (k > 0) k else math.ceil(1.0 / minShare).toInt
    require(kk >= math.ceil(1.0 / minShare).toInt - 1,
      s"k=$kk too small for minShare=$minShare — superset property lost")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(key.cast("string").as("k")).where($"k".isNotNull)
    val summary = keyed.as[String]
      .select(new MisraGries(kk).toColumn.name("s"))
      .head()
    if (summary.candidates.isEmpty)
      return spark.emptyDataFrame
        .select(lit("").as("k"), lit(0L).as("cnt"), lit(0.0).as("share"))
        .limit(0)
    keyed
      .where($"k".isin(summary.candidates: _*))
      .groupBy($"k").agg(count(lit(1)).as("cnt"))
      .where($"cnt" > lit(summary.n * minShare))
      .withColumn("share", $"cnt" / lit(summary.n.toDouble))
  }

  /** Per-group [[exact]]: one grouped Misra-Gries pass (k counters per
    * group-side buffer; ≤ |groups|·k candidate pairs, bounded by
    * `maxGroups`), then one exact count over only the candidate
    * (group, key) pairs via a broadcast join. "Top domains per
    * language over 100 TB" in two scans, k counters per group.
    * Output: (group, key, cnt, share) with share exact per group. */
  def exactGrouped(df: DataFrame, group: Column, key: Column,
                   minShare: Double, k: Int = 0,
                   maxGroups: Int = 10000): DataFrame = {
    require(minShare > 0 && minShare < 1, s"minShare in (0,1): $minShare")
    val kk = if (k > 0) k else math.ceil(1.0 / minShare).toInt
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(group.cast("string").as("g"),
        key.cast("string").as("k"))
      .where($"g".isNotNull && $"k".isNotNull)
    val summaries = BoundedCollect.orFail(keyed.as[(String, String)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new MisraGries(kk).toColumn.name("s")),
      maxGroups, "HeavyHitters.exactGrouped", "groups",
      "raise maxGroups or pre-filter")
    val cand = summaries.flatMap { case (g, s) =>
      s.candidates.map(c => (g, c))
    }.toSeq
    val totals = summaries.map { case (g, s) => (g, s.n) }.toSeq
    val candDf = broadcast(cand.toDF("g", "k"))
    val totDf = broadcast(totals.toDF("g", "n"))
    keyed.join(candDf, Seq("g", "k"))
      .groupBy($"g", $"k").agg(count(lit(1)).as("cnt"))
      .join(totDf, Seq("g"))
      .where($"cnt" > $"n" * lit(minShare))
      .select($"g", $"k", $"cnt",
        ($"cnt" / $"n".cast("double")).as("share"))
  }
}
