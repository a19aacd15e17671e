package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation join: salt the skewed (big) side, replicate the small
  * side across salts, join on (keys + salt). Result is row-identical to
  * the unsalted join; the skewed key's rows now spread over `salts`
  * shuffle partitions instead of hot-spotting one reducer.
  *
  * AQE's skew-join handling covers sort-merge joins after the fact; this
  * operator is the explicit form for when the skew is known up front
  * (e.g. a null-heavy or celebrity key) or the join is hash-partitioned
  * by a custom strategy.
  */
object SaltedJoin {
  def apply(big: DataFrame, small: DataFrame, keys: Seq[String],
            salts: Int, joinType: String = "inner"): DataFrame = {
    // deterministic per-row salt: hash of the whole row, not rand() —
    // re-running the plan (task retry, AQE re-plan) must not move rows
    val salted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }
}

/** The sampling hash key. Two interchangeable families:
  *
  *  - [[Xx64]] (default): one codegen'd 64-bit hash per row — the
  *    production key.
  *  - [[Md5]]: md5 over a `'|'`-joined string rendering of the seed
  *    columns. ~4x the per-row cost, but every SQL engine computes the
  *    identical lowercase-hex digest, so the exact sample is
  *    re-derivable outside Spark (cross-engine audits, the DuckDB
  *    correctness oracle). Lowercase-hex strings order the same
  *    lexically as numerically, so thresholds/bottom-k compare the hex
  *    directly — no 128-bit arithmetic.
  *
  * Seed columns should uniquely identify a row when the downstream use
  * is order-sensitive (bottom-k): hash ties at the cut are broken
  * arbitrarily, which is only deterministic if tied rows are identical.
  */
sealed trait SampleHash
case object Xx64 extends SampleHash
case object Md5 extends SampleHash

object SampleHash {
  /** The per-row sort/threshold key for the chosen family. */
  def keyFor(seedCols: Seq[String], hash: SampleHash): Column = hash match {
    case Xx64 => xxhash64(seedCols.map(col): _*)
    case Md5  => md5(concat_ws("|", seedCols.map(col(_).cast("string")): _*))
  }
}

/** Deterministic distributed sampling: bottom-k by a stable per-row hash.
  * Unlike `df.sample` (partition-dependent RNG), the same rows are chosen
  * regardless of partitioning or retries — the property a reproducible
  * training-data pipeline needs. Plans as TakeOrderedAndProject: each
  * partition keeps its local bottom-k, the driver merges (no full sort).
  */
object BottomKSample {
  def apply(df: DataFrame, k: Int, seedCols: Seq[String],
            hash: SampleHash = Xx64): DataFrame =
    df.withColumn("__h", SampleHash.keyFor(seedCols, hash))
      .orderBy("__h")
      .limit(k)
      .drop("__h")
}

/** Deterministic STRATIFIED sampling: the bottom-k rows per stratum by
  * the stable hash key — fixed per-language/per-source quotas for a
  * training-data mix, reproducible across reruns and repartitioning.
  * One shuffle on the strata key; within a stratum the window keeps a
  * running top-k sort, and retained output is bounded at k rows per
  * stratum regardless of stratum skew.
  *
  * A pathologically hot single stratum (90% of a 100 TB corpus in one
  * language) still SORTS on one task in the plain form — that regime is
  * `prefilterMargin`: per-stratum counts (one agg) derive a hash-order
  * keep-fraction `min(1, c·k/n_s)`, the corpus is pre-filtered to
  * ~c·k rows per stratum by a threshold on the SAME hash ordering
  * (downward-closed, so the true bottom-k survives whenever ≥ k rows
  * do), and only ~c·k rows per stratum reach the window sort. The
  * result is then VERIFIED exact — every stratum must yield
  * `min(k, n_s)` rows — and the operator fails fast telling the caller
  * to raise `c` rather than silently under-sampling (with c=8 the
  * shortfall probability is e^-150-ish; the check costs one action, and
  * the outcome is deterministic across retries because the hash is).
  */
object StratifiedSample {
  def apply(df: DataFrame, k: Int, strataCols: Seq[String],
            seedCols: Seq[String], hash: SampleHash = Xx64,
            prefilterMargin: Option[Int] = None): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*).orderBy(col("__h"))
    val keyed = df.withColumn("__h", SampleHash.keyFor(seedCols, hash))
    val pre = prefilterMargin match {
      case None => keyed
      case Some(c) =>
        require(c >= 2, "prefilterMargin must be >= 2 (safety headroom)")
        val counts = df.groupBy(strataCols.map(col): _*)
          .agg(count(lit(1)).as("__n"))
        val ck = lit(c.toDouble * k)
        // keep-fraction of the hash ORDER; thresholds are monotone in the
        // sort key, so the kept set is downward-closed: bottom-k ⊆ kept
        // iff the stratum keeps >= k rows (verified below)
        val f = ck / col("__n")
        val keep = hash match {
          case Xx64 =>
            // raw signed-long order; compare in double space (monotone,
            // and immune to ANSI cast overflow at f ~ 1)
            val t = lit(Long.MinValue.toDouble) + f * lit(math.pow(2, 64))
            col("__n") <= ck || col("__h").cast("double") < t
          case Md5 =>
            // first 60 digest bits as 15 lowercase-hex chars (lexical ==
            // numeric); least() keeps the ANSI long cast in range
            val bound = (least(f, lit(1.0)) * lit((1L << 60).toDouble))
              .cast("long")
            val hex = lpad(lower(conv(bound.cast("string"), 10, 16)), 15, "0")
            col("__n") <= ck || substring(col("__h"), 1, 15) < hex
        }
        keyed.join(broadcast(counts), strataCols).filter(keep)
    }
    val cut = pre
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    prefilterMargin.foreach { c =>
      // exactness proof: each stratum must deliver min(k, n_s) rows. One
      // extra action (prefilter mode only); deterministic across retries.
      val short = cut
        .groupBy(strataCols.map(col): _*).agg(count(lit(1)).as("__got"),
          first(col("__n")).as("__n1"))
        .filter(col("__got") < least(lit(k.toLong), col("__n1")))
        .count()
      require(short == 0L,
        s"stratified prefilter with margin c=$c under-filled $short " +
          "strata — raise prefilterMargin")
    }
    cut.drop("__h", "__rn", "__n")
  }
}

/** Deterministic weighted (importance) sampling: each row keeps with
  * probability equal to its own `weight` column in [0,1] — e.g. a
  * quality score, so high-quality documents survive curation more often
  * — but the decision is a pure hash comparison, not RNG: the same row
  * keeps or drops identically across retries, partitionings, and
  * engines. Zero shuffle (a filter, like [[HashSample]]); expected kept
  * count = sum(weights).
  *
  * Weights are clamped to [0, 1]. As with the samplers, [[Md5]] makes
  * the exact kept-set re-derivable by any SQL engine: the row keeps iff
  * the first 15 hex chars of its digest are lexically below the
  * weight's 60-bit threshold rendered in hex (lowercase-hex lexical
  * order == numeric order). A weight of exactly 1.0 excludes only the
  * all-`f` digest prefix (probability 16^-15) — the price of a closed
  * upper bound in hex space.
  */
object WeightedHashSample {
  private val Scale = 1L << 60

  def apply(df: DataFrame, weight: Column, seedCols: Seq[String],
            hash: SampleHash = Xx64): DataFrame = {
    val bound = least(greatest(floor(weight * Scale.toDouble), lit(0.0)),
      lit((Scale - 1).toDouble)).cast("long")
    hash match {
      case Xx64 =>
        df.filter(pmod(SampleHash.keyFor(seedCols, Xx64), lit(Scale)) < bound)
      case Md5 =>
        val hex15 = lpad(lower(hex(bound)), 15, "0")
        df.filter(
          substring(SampleHash.keyFor(seedCols, Md5), 1, 15) < hex15)
    }
  }
}

/** Weighted sampling WITHOUT replacement, exactly k rows
  * (Efraimidis–Spirakis A-Res): each row draws a deterministic uniform
  * u ∈ (0, 1] from its hash and keeps key = ln(u) / w; the top-k keys
  * are the sample, each row's inclusion probability proportional to its
  * weight. Complements [[WeightedHashSample]] (Bernoulli, random SIZE)
  * when the budget is a fixed row count.
  *
  * Plans as TakeOrderedAndProject: per-partition top-k, driver merge —
  * no global sort, no shuffle of the corpus. Md5-keyed so the exact
  * sample replays in any engine ((digest60 + 1) / 2^60 is the same
  * double everywhere); rows with w <= 0 are excluded (their key would
  * be −∞/undefined — and zero weight means zero chance anyway).
  */
object WeightedTopKSample {
  private val Scale = (1L << 60).toDouble

  def apply(df: DataFrame, weight: Column, k: Int,
            seedCols: Seq[String]): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (graft.functions.Md5Prefix(
      concat_ws("|", seedCols.map(col(_).cast("string")): _*), 15)
      .cast("double") + lit(1.0)) / lit(Scale)
    df.filter(weight > 0.0)
      .withColumn("__k", log(u) / weight)
      // tie-break on ALL seed columns: the md5 key is derived from the
      // full seed tuple, so head alone would leave the cut nondeterministic
      // whenever the first seed column repeats
      .orderBy(col("__k").desc +: seedCols.map(col): _*)
      .limit(k)
      .drop("__k")
  }
}

/** Stratified [[WeightedTopKSample]]: exactly k rows PER STRATUM,
  * inclusion probability within each stratum proportional to weight —
  * the training-mix primitive ("20 best-weighted docs per language"),
  * reproducible because the A-Res keys are md5-derived. One shuffle on
  * the strata key; within a stratum the rank window keeps a running
  * top-k. For a pathologically hot stratum apply the same monotone
  * hash-threshold prefilter as `StratifiedSample` before the window.
  */
object StratifiedWeightedTopKSample {
  private val Scale = (1L << 60).toDouble

  def apply(df: DataFrame, weight: Column, k: Int, strataCols: Seq[String],
            seedCols: Seq[String]): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (graft.functions.Md5Prefix(
      concat_ws("|", seedCols.map(col(_).cast("string")): _*), 15)
      .cast("double") + lit(1.0)) / lit(Scale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(col("__k").desc +: seedCols.map(col): _*)
    df.filter(weight > 0.0)
      .withColumn("__k", log(u) / weight)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__k", "__rk")
  }
}

/** Deterministic dataset split (train/val/test): each row draws a
  * reproducible uniform u from the md5 of its seed columns and lands in
  * the split whose cumulative weight interval covers u. Pure map over
  * the scan — no shuffle, no sampling state; the SAME row lands in the
  * SAME split on every engine and every rerun (the property random
  * splits lack and training pipelines need for resumable/auditable
  * data builds). Weights must sum to 1. */
object DeterministicSplit {
  private val Scale = (1L << 60).toDouble

  def apply(df: DataFrame, seedCols: Seq[String],
            splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val u = (graft.functions.Md5Prefix(
      concat_ws("|", seedCols.map(col(_).cast("string")): _*), 15)
      .cast("double") + lit(1.0)) / lit(Scale)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val first = when(u <= cum.head, lit(splits.head._1))
    val assigned = splits.init.tail.zip(cum.init.tail)
      .foldLeft(first) { case (acc, ((name, _), c)) =>
        acc.when(u <= c, lit(name))
      }
      .otherwise(lit(splits.last._1))
    df.withColumn("split", assigned)
  }
}

/** Distributed exclusive prefix sum over a global order — the building
  * block for sequence packing, global byte offsets, and deterministic
  * concatenation layouts. The naive form (one unpartitioned window) puts
  * the whole corpus on a single task; this one never does:
  *
  *  1. rows bucket by `orderCol div bucketWidth` — a deterministic range
  *     bucketing that needs no sampling pass (unlike `repartitionByRange`)
  *     and IS the window partition, so the per-bucket running sum costs
  *     exactly one shuffle of the corpus;
  *  2. per-bucket totals (map-side combined groupBy, one row per bucket)
  *     get their own exclusive running sum on a bucket-count-sized table —
  *     the only unpartitioned window, over thousands of rows, not billions;
  *  3. the bucket offsets broadcast back onto the corpus:
  *     `global = bucket_offset + within_bucket`.
  *
  * Size `bucketWidth` so one bucket's rows fit a task (e.g. 1e6 ids per
  * bucket at 100 TB). Ids need not be dense — buckets may be uneven or
  * empty; only the per-bucket row count matters.
  */
object BucketedPrefixSum {
  /** Adds `outCol` = sum of `valueCol` over all rows strictly before this
    * one in ascending `orderCol` order (exclusive prefix sum; first row
    * gets 0). `orderCol` must be a non-negative integral id, unique per
    * row (ties would make "strictly before" ambiguous). */
  def apply(df: DataFrame, orderCol: String, valueCol: String,
            outCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val bucketed = df.withColumn("__bkt", expr(s"$orderCol div $bucketWidth"))
    val within = Window.partitionBy("__bkt").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val acrossBuckets = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("__bkt")
      .agg(sum(valueCol).as("__tot"))
      .withColumn("__off", coalesce(sum("__tot").over(acrossBuckets), lit(0L)))
      .select("__bkt", "__off")
    bucketed
      .withColumn("__within", coalesce(sum(valueCol).over(within), lit(0L)))
      .join(broadcast(offsets), Seq("__bkt"))
      .withColumn(outCol, col("__off") + col("__within"))
      .drop("__bkt", "__within", "__off")
  }
}

/** Proportional deterministic sampling via a hash threshold: keeps a
  * fraction of rows with no shuffle at all (pure filter — scales to any
  * corpus size and composes with pushdown).
  */
object HashSample {
  def apply(df: DataFrame, fraction: Double, seedCols: Seq[String],
            hash: SampleHash = Xx64): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    val bound = (fraction * (1L << 60).toDouble).toLong
    hash match {
      case Xx64 =>
        df.filter(pmod(SampleHash.keyFor(seedCols, Xx64), lit(1L << 60)) < bound)
      case Md5 =>
        // keep iff the first 60 bits of the digest fall under the bound;
        // compared as 15 lowercase-hex chars (lexical == numeric order)
        val hex15 = f"$bound%015x"
        df.filter(substring(SampleHash.keyFor(seedCols, Md5), 1, 15) < lit(hex15))
    }
  }
}

/** Deterministic global training-order shuffle with MATERIALIZED
  * positions: every row gets `posCol` = its rank in ascending order of a
  * per-row hash key, i.e. a reproducible pseudo-random permutation of
  * the corpus (vary `epoch` for a fresh permutation per training epoch,
  * same rows, same hardware-independent order on every rerun).
  *
  * The naive form — `row_number()` over an unpartitioned ORDER BY —
  * sorts the whole corpus on ONE task. This one never does, using the
  * same two-level shape as [[BucketedPrefixSum]], with the twist that
  * the hash key itself supplies balanced range buckets for free (its
  * top bits are uniform, so each of the `buckets` ranges holds ~n/B
  * rows — no sampling pass, unlike `repartitionByRange`):
  *
  *  1. bucket = the key's top log2(B) bits, order-aligned with the full
  *     key (bucket boundaries are range cuts of the permutation);
  *  2. within-bucket rank: one shuffle on bucket, a window sort of
  *     ~n/B rows per task;
  *  3. bucket row-counts (map-side combined groupBy) take an exclusive
  *     prefix sum on a B-row table — the only unpartitioned window —
  *     and broadcast back: `pos = bucket_offset + within_rank - 1`.
  *
  * [[Md5]] keys make the exact permutation re-derivable by any SQL
  * engine (`row_number() OVER (ORDER BY md5(...), id)`); [[Xx64]] is
  * the cheaper production family. Ties (astronomically unlikely with
  * either digest) break deterministically on `seedCols`.
  */
object GlobalShuffleRank {
  def apply(df: DataFrame, seedCols: Seq[String], posCol: String = "pos",
            epoch: Long = 0L, hash: SampleHash = Xx64,
            buckets: Int = 256): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      "buckets must be a power of two")
    import org.apache.spark.sql.expressions.Window
    val seeded = lit(epoch).cast("string") +: seedCols.map(col(_).cast("string"))
    val (key, bucket) = hash match {
      case Xx64 =>
        val b = java.lang.Integer.numberOfTrailingZeros(buckets)
        val k = xxhash64(seeded: _*)
        // top b bits, sign bit flipped so bucket order == signed key order
        (k, shiftrightunsigned(k, 64 - b).bitwiseXOR(lit(1L << (b - 1))))
      case Md5 =>
        require(buckets == 256, "Md5 family buckets fixed at 256 (1 hex byte)")
        val k = md5(concat_ws("|", seeded: _*))
        (k, conv(substring(k, 1, 2), 16, 10).cast("int"))
    }
    val keyed = df.withColumn("__key", key).withColumn("__bkt", bucket)
    val within = Window.partitionBy("__bkt")
      .orderBy(col("__key") +: seedCols.map(col): _*)
    val acrossBuckets = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__bkt").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(acrossBuckets), lit(0L)))
      .select("__bkt", "__off")
    keyed
      .withColumn("__rn", row_number().over(within))
      .join(broadcast(offsets), Seq("__bkt"))
      .withColumn(posCol, col("__off") + col("__rn") - 1)
      .drop("__key", "__bkt", "__rn", "__off")
  }
}

/** Deterministic domain-mixture sampling: compose a training mix with
  * TARGET proportions per source (language, domain, crawl) from a corpus
  * whose natural mix is different — e.g. {en -> 0.5, zh -> 0.2,
  * de -> 0.3} over a web crawl that is 80% English. Each source `s`
  * contributes its bottom-`round(total * targets(s))` rows by the
  * stable hash order (sources absent from `targets` contribute none; a
  * source smaller than its quota contributes everything it has — the
  * caller sees the shortfall in the output mix). Per-source bottom-k
  * instead of rate-filtering makes the quota EXACT, not binomial.
  *
  * One shuffle on the source column. The same hot-stratum caveat as
  * [[StratifiedSample]] applies (a 90%-of-corpus source sorts on one
  * task); for that regime pre-filter each source to ~c·k rows with
  * [[HashSample]] on the same key family first — thresholds on the hash
  * order are downward-closed, so the true bottom-k survives.
  */
object MixtureSample {
  def apply(df: DataFrame, sourceCol: String, targets: Map[String, Double],
            total: Long, seedCols: Seq[String],
            hash: SampleHash = Xx64): DataFrame = {
    require(total > 0, "total must be positive")
    require(targets.values.forall(v => v >= 0 && v <= 1),
      "target fractions must be in [0,1]")
    val quotas = targets.toSeq.map { case (src, frac) =>
      src -> math.floor(total * frac + 0.5).toLong
    }
    QuotaSelect(df, sourceCol, quotas, seedCols, hash)
  }
}

/** Shared bottom-quota selection: keep each source's `quota` smallest
  * rows in the stable hash order. The (source, quota) pairs travel as a
  * broadcast-joined TABLE, not a per-source literal CASE — a
  * when/otherwise chain is O(|sources|) deep in the generated code and
  * overflows whole-stage codegen / analyzer recursion at a few thousand
  * sources (the same cliff [[graft.operators.Analytics]]'s
  * groupedCutTable avoids the same way), while the join side is
  * |sources| rows of data whatever their number. Sources absent from
  * `quotas` (and null sources) contribute nothing — the inner join
  * drops them, matching the old CASE's `otherwise(0)`. Output column
  * order is preserved. */
private[operators] object QuotaSelect {
  def apply(df: DataFrame, sourceCol: String, quotas: Seq[(String, Long)],
            seedCols: Seq[String], hash: SampleHash): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val quotaDf = broadcast(
      quotas.toDF(sourceCol, "__quota"))
    val w = Window.partitionBy(sourceCol)
      .orderBy(col("__h") +: seedCols.map(col): _*)
    df.withColumn("__h", SampleHash.keyFor(seedCols, hash))
      .withColumn("__rn", row_number().over(w))
      .join(quotaDf, Seq(sourceCol))
      .filter(col("__rn") <= col("__quota"))
      .select(df.columns.map(col): _*)
  }
}

/** Temperature-scaled mixture resampling — the multilingual rebalancing
  * scheme of mT5/XLM-R: instead of TARGET proportions handed in (that's
  * [[MixtureSample]]), the mix is DERIVED from the observed counts,
  * p_s ∝ c_s^α, flattening the head (a 0.8-share crawl language stops
  * dominating) while keeping tail languages proportionally
  * over-represented. α is fixed at 0.5 (`sqrt`) deliberately: IEEE-754
  * `sqrt` is correctly rounded on every engine, so the derived quotas —
  * and hence the exact sampled set — replay bit-identically cross-engine,
  * which `pow(x, 0.5)` does not guarantee.
  *
  * Quotas: q_s = min(c_s, floor(total · √c_s / W)), W = Σ√c_s folded in
  * ascending source order (a SEQUENTIAL left fold, mirrored by the
  * oracle's ordered running sum, so the double accumulation is
  * bit-identical). Driver state: one (source, count) row per source,
  * bounded by `maxSources`. Selection is the same per-source
  * bottom-quota by stable hash as [[MixtureSample]] — exact, not
  * binomial. */
object TemperatureMixture {
  def apply(df: DataFrame, sourceCol: String, total: Long,
            seedCols: Seq[String], hash: SampleHash = Xx64,
            maxSources: Int = 10000): DataFrame = {
    require(total > 0, "total must be positive")
    val countRows = BoundedCollect.orFail(
      df.where(col(sourceCol).isNotNull).groupBy(sourceCol).count(),
      maxSources, "TemperatureMixture", "sources",
      "raise maxSources or pre-filter")
    val counts = countRows.map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val weights = counts.map { case (_, n) => math.sqrt(n.toDouble) }
    val bigW = weights.foldLeft(0.0)(_ + _) // ascending-source left fold
    val quotas = counts.zip(weights).map { case ((s, n), w) =>
      s -> math.min(n, math.floor(total * w / bigW).toLong)
    }.toSeq
    QuotaSelect(df, sourceCol, quotas, seedCols, hash)
  }
}
