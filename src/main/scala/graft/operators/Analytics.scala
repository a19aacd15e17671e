package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Prefix

/** Behavioral / statistical analytics operators, each in the shape that
  * survives a 1000-executor cluster:
  *
  *  - [[saltedStats]] — two-stage salted aggregation for LOW-CARDINALITY
  *    skewed group keys (e.g. 5 event types over 100 TB: an unsalted
  *    groupBy funnels 20 TB into one reducer).
  *  - [[topKPerGroup]] — per-group top-k with an optional salted
  *    pre-pass so one hot group never sorts on a single task.
  *  - [[modePerGroup]] — most-frequent value per group with a
  *    deterministic tie rule; the window runs on the COUNTED table
  *    (cardinality = distinct (group, value) pairs), never on raw rows.
  *  - [[funnel]] — ordered multi-step conversion counts as a chain of
  *    co-partitioned equi-joins on the user key; no per-user event
  *    collection, so a million-event power user costs joins, not memory.
  *  - [[cohortRetention]] — weekly cohort × week-offset distinct-user
  *    retention; distinct runs map-side-partial on (cohort, offset, user).
  *  - [[quantileCutpoints]] / [[bucketByCutpoints]] — exact global
  *    percentile boundaries (one 1-row reduce) broadcast back as a map
  *    -side bucket assignment. The scale-correct replacement for a
  *    global `ntile()` window, which would move the corpus to ONE task.
  *  - [[histogram]] — fixed-width binning; bin id is a pure map, one
  *    partial-agg shuffle.
  *
  * All derive from the reference's aggregation/ranking surface
  * (`Actualizar_Precios_de_Nexo.py` resumen aggregations, the browser
  * view's count-by-state cards) generalized to corpus-scale analytics.
  */
object Analytics {

  /** Deterministic per-row salt in [0, salts): a hash of `saltCols`,
    * never `rand()` — task retries and AQE re-plans must not move rows
    * between salt lanes. */
  private def salt(saltCols: Seq[String], salts: Int): Column =
    pmod(xxhash64(saltCols.map(col): _*), lit(salts)).cast("int")

  /** Two-stage salted aggregation: `groupBy(keys :+ salt)` computes
    * mergeable partials (count / sum / min / max), then `groupBy(keys)`
    * merges them; avg is derived at merge time (sum/n), never averaged
    * across lanes. Result is row-identical to the direct groupBy, but a
    * key holding 20% of the corpus now spreads over `salts` reducers.
    *
    * Spark's own map-side partial aggregation already mitigates skew
    * when the key count is small; the explicit salt matters when
    * upstream cardinality (e.g. a preceding join) defeats partial agg,
    * and it makes the two-stage shape testable and plan-assertable.
    */
  def saltedStats(df: DataFrame, keys: Seq[String], valueCol: String,
                  saltCols: Seq[String], salts: Int): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val partial = df
      .withColumn("__salt", salt(saltCols, salts))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(
        count(lit(1)).as("__n"),
        sum(col(valueCol)).as("__sum"),
        min(col(valueCol)).as("__min"),
        max(col(valueCol)).as("__max"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(
        sum("__n").as("n"),
        sum("__sum").as("__s"),
        min("__min").as("v_min"),
        max("__max").as("v_max"))
      .withColumn("v_sum", round(col("__s"), 2))
      .withColumn("v_avg", round(col("__s") / col("n"), 2))
      .drop("__s")
  }

  /** Top-k rows per group by `orderCol` descending, ties broken by
    * `tieCols` ascending (making the result set deterministic).
    *
    * `salts = 1`: one window, one shuffle on the group key; a group's
    * rows sort within one task — fine when groups are balanced.
    *
    * `salts > 1`: a pre-pass window partitioned by (group, salt) keeps
    * each lane's local top-k first, so the final per-group window sees
    * at most `salts * k` rows per group regardless of group skew. Same
    * result set (top-k is a semilattice: merging per-lane top-k then
    * taking top-k equals global top-k), proven row-identical in the
    * spec.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: String,
                   k: Int, tieCols: Seq[String], salts: Int = 1): DataFrame = {
    require(k > 0 && salts > 0, s"k and salts must be positive ($k, $salts)")
    val ordering = col(orderCol).desc +: tieCols.map(col(_).asc)
    val pre =
      if (salts == 1) df
      else {
        val lane = Window
          .partitionBy((groupCols.map(col) :+ salt(tieCols, salts)): _*)
          .orderBy(ordering: _*)
        df.withColumn("__lrk", row_number().over(lane))
          .filter(col("__lrk") <= k)
          .drop("__lrk")
      }
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(ordering: _*)
    pre.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** [[topKPerGroup]] on the custom physical operator
    * (`graft.plans.TopKPerGroup` → `TopKPerGroupExec`): one streaming
    * pass with a bounded k-row buffer per group on each side of a
    * single hash exchange — no window sort at all. Requires the
    * session to carry `GraftExtensions` (the planner strategy); same
    * kept rows as the window form (no rank column), pinned in
    * `TopKExecSpec`. */
  def topKPerGroupExec(df: DataFrame, groupCols: Seq[String],
                       orderCol: String, k: Int,
                       tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.graft.Shim
    // self-register the planner strategy: sessions built without
    // GraftExtensions (a notebook, the driver's Verify session) can
    // still plan the node — extraStrategies is the public runtime hook.
    // The check looks at the PLANNER's strategy list (which includes
    // both extension-injected and experimental strategies), so a
    // GraftExtensions session is never double-registered; the
    // synchronized block makes the check-then-append safe under
    // concurrent callers on one session.
    val em = df.sparkSession.experimental
    em.synchronized {
      val present = df.sparkSession.sessionState.planner.strategies
        .contains(graft.plans.TopKPerGroupStrategy)
      if (!present)
        em.extraStrategies = em.extraStrategies :+
          graft.plans.TopKPerGroupStrategy
    }
    val groups = groupCols.map(c => Shim.expression(df(c)))
    val order = SortOrder(Shim.expression(df(orderCol)), Descending) +:
      tieCols.map(c => SortOrder(Shim.expression(df(c)), Ascending))
    Shim.ofRows(df.sparkSession,
      graft.plans.TopKPerGroup(groups, order, k,
        df.queryExecution.analyzed))
  }

  /** Most-frequent `valCol` per group; ties resolve to the SMALLEST
    * value so the answer is deterministic and cross-engine replayable.
    * Raw rows reduce to (group, value) counts first (map-side partial),
    * the rank window then runs over that already-tiny table. */
  def modePerGroup(df: DataFrame, groupCols: Seq[String],
                   valCol: String): DataFrame = {
    val counts = df.groupBy((groupCols :+ valCol).map(col): _*)
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("n").desc, col(valCol).asc)
    counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
      .withColumnRenamed(valCol, "mode_value")
      .withColumnRenamed("n", "mode_count")
  }

  /** Ordered funnel: for each step i, the count of users whose FIRST
    * step-i event strictly follows their counted step-(i-1) event
    * (greedy earliest-match semantics — the standard product-analytics
    * funnel). Emits one row per step: (step_idx, step, n_users).
    *
    * Shape: step 1 is a groupBy(user).min(ts); each later step is an
    * equi-join on user + a range predicate + min(ts). Every stage
    * shuffles on the SAME key, so the exchanges after the first reuse
    * the partitioning, and no per-user event list is ever materialized.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    val reached = steps.tail.scanLeft(first) { (prev, step) =>
      events.filter(col(typeCol) === step)
        .select(col(userCol).as("__u"), col(tsCol).as("__ts"))
        .join(prev, col("__u") === col(userCol) && col("__ts") > col("__t"))
        .groupBy(col(userCol)).agg(min(col("__ts")).as("__t"))
    }
    reached.zipWithIndex.map { case (stage, i) =>
      stage.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(steps(i)).as("step"),
          col("n_users"))
    }.reduce(_.union(_))
  }

  /** Weekly cohort retention: cohort = epoch-week of a user's first
    * event, offset = activity week − cohort week; counts distinct users
    * per (cohort, offset). `weekCol` must already be an integral week
    * number (the caller owns the ns→week arithmetic, see
    * `EventWindows.nsDiv` — exact integral division, no double floor).
    *
    * Two shuffles on the user key (first-seen agg + join), then the
    * distinct on (cohort, offset, user) combines map-side before the
    * final count — at no point does a (user × week) matrix concentrate
    * on one task. */
  def cohortRetention(events: DataFrame, userCol: String,
                      weekCol: Column): DataFrame = {
    val weeks = events.select(col(userCol).as("u"), weekCol.as("w"))
    val first = weeks.groupBy("u").agg(min("w").as("cohort_week"))
    weeks.join(first, "u")
      .select(col("cohort_week"), (col("w") - col("cohort_week")).as("week_offset"),
        col("u"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Exact global percentile boundaries as a 1-row, 1-array frame —
    * `probs` must be ascending. One full-reduce aggregate; the result
    * is broadcast-sized by construction (|probs| doubles). */
  def quantileCutpoints(df: DataFrame, valueCol: String,
                        probs: Seq[Double]): DataFrame = {
    require(probs == probs.sorted, "probs must be ascending")
    df.agg(percentile(col(valueCol),
      array(probs.map(lit): _*)).as("__cuts"))
  }

  /** Assign each row its quantile bucket: 1 + (count of cutpoints
    * strictly below the value). With the p10..p90 nine-point grid this
    * is the scale-correct decile assignment — a broadcast of the 1-row
    * cutpoint frame plus a pure map — where `ntile(10)` over an
    * unpartitioned window would move every row to a single task.
    *
    * Cutpoints are rounded to 6 dp before comparison so the assignment
    * is reproducible across engines whose interpolation differs in the
    * final ulp (Spark computes (1−g)·a + g·b, DuckDB a + (b−a)·g). */
  def bucketByCutpoints(df: DataFrame, valueCol: String,
                        cuts: DataFrame): DataFrame =
    df.join(broadcast(cuts))
      .withColumn("bucket",
        aggregate(col("__cuts"), lit(1),
          (acc, c) => acc + when(col(valueCol) > round(c, 6), 1).otherwise(0)))
      .drop("__cuts")

  /** Per-group z-score outliers: rows where |v − mean| / stddev exceeds
    * `threshold`. Group stats are one map-side-combining aggregation
    * joined back (broadcast when the group count is small — set
    * `broadcastStats = false` for high-cardinality groups and the join
    * shuffles on the group key instead). The z-score is rounded to 4 dp
    * BEFORE the threshold compare so the kept set is identical across
    * engines whose mean/stddev summation order differs in the last ulp. */
  def zscoreOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     threshold: Double,
                     broadcastStats: Boolean = true): DataFrame = {
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(avg(col(valueCol)).as("__mean"),
        stddev_samp(col(valueCol)).as("__sd"))
    val s = if (broadcastStats) broadcast(stats) else stats
    df.join(s, groupCols)
      // sd = 0 (constant group) means no outliers, not a division error
      // — the explicit guard keeps ANSI mode happy and the semantics
      // identical under either ANSI setting
      .withColumn("z",
        when(col("__sd") =!= 0.0,
          round((col(valueCol) - col("__mean")) / col("__sd"), 4)))
      .filter(abs(col("z")) >= threshold)
      .drop("__mean", "__sd")
  }

  /** Per-group winsorization: clip `valueCol` to its group's
    * [pLo, pHi] exact-percentile band — the outlier-capping
    * preprocessing twin of [[zscoreOutliers]] (which DROPS; this KEEPS
    * at the boundary). One aggregation for the cutpoints, broadcast
    * back, clipping a pure map — the agg_quantile_bucket shape.
    * Cutpoints round to 6 dp before the clamp so the kept/clamped
    * decision is identical across engines whose percentile
    * interpolation differs in the last ulp. */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                pLo: Double, pHi: Double,
                broadcastStats: Boolean = true): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad band [$pLo,$pHi]")
    val cuts = df.groupBy(groupCols.map(col): _*)
      .agg(round(percentile(col(valueCol), lit(pLo)), 6).as("__lo"),
        round(percentile(col(valueCol), lit(pHi)), 6).as("__hi"))
    val s = if (broadcastStats) broadcast(cuts) else cuts
    df.join(s, groupCols)
      .withColumn("clipped",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Per-group robust location/scale: exact median and median absolute
    * deviation. Two aggregation passes (median, then median of
    * |v − median|) with the 1-row-per-group median table broadcast back
    * between them — never a per-group sort of raw rows on one task
    * beyond what the exact percentile itself requires. */
  def madStats(df: DataFrame, groupCols: Seq[String],
               valueCol: String): DataFrame = {
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(percentile(col(valueCol), lit(0.5)).as("__med"))
    df.join(broadcast(med), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(round(min("__med"), 4).as("med"),
        round(percentile(abs(col(valueCol) - col("__med")), lit(0.5)), 4)
          .as("mad"))
  }

  /** Trailing time-range aggregation: per partition key, the sum and
    * count of `valueCol` over rows whose `orderCol` lies within
    * `rangeBack` of the current row (inclusive both ends) — the
    * "activity in the last hour per user" primitive. One shuffle on the
    * partition key; the RANGE frame advances two pointers per partition,
    * never re-scanning the window. `orderCol` must be integral (epoch
    * ns/sec), which keeps the frame arithmetic exact. */
  def trailingRangeAgg(df: DataFrame, partCols: Seq[String],
                       orderCol: String, rangeBack: Long,
                       valueCol: String): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(orderCol)).rangeBetween(-rangeBack, 0)
    df.withColumn("w_sum", round(sum(col(valueCol)).over(w), 2))
      .withColumn("w_n", count(lit(1)).over(w))
  }

  /** Order-independent table content checksum: row count, the SUM of a
    * 32-bit md5 prefix accumulated in plain BIGINT — int64 holds
    * n·(2³²−1) exactly up to n ≈ 2³¹ rows, far past any per-table
    * validation scale, and int64 is the one numeric representation
    * every engine/Arrow consumer canonicalizes identically (a
    * decimal128 sum column round-trips with engine-specific physical
    * encodings and defeats byte-level result comparison — observed
    * against DuckDB) — and the BIT_XOR of the 60-bit prefix
    * (commutative, never overflows; blind only to even-multiplicity
    * changes, which n_rows + sum catch; also the unbounded guard past
    * the sum's 2³¹-row exactness horizon). All three are commutative ⇒
    * partitioning/ordering never changes the result, and md5 replays
    * in any engine — the cross-system migration validation primitive
    * ("did every row survive the copy?"). One pure-map pass + a 1-row
    * reduce; swap md5 for xxhash64 intra-Spark (4× cheaper, same
    * shape). NULLs render POSITIONALLY as the `__NULL__` sentinel
    * (never dropped, as a bare concat_ws would — that collides
    * ('a',null,'b') with ('a','b',null)), so the digest string is
    * explicit about the null pattern on every engine; the residual
    * collision (a genuine `__NULL__` string value) is documented, not
    * silent. */
  /** One digest-string term: the column as a string, with NULL made an
    * explicit positional sentinel so null patterns never collide (see
    * [[tableChecksum]]'s scaladoc). Oracle SQL mirrors this verbatim
    * as `coalesce(col::VARCHAR, '__NULL__')`. */
  private def digestCol(c: String): Column =
    coalesce(col(c).cast("string"), lit("__NULL__"))

  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    val hex = md5(concat_ws("|", cols.map(digestCol): _*))
    val k32 = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val k60 = conv(substring(hex, 1, 15), 16, 10).cast("long")
    df.select(k32.as("__k32"), k60.as("__k60"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__k32")).as("content_sum"),
        expr("bit_xor(__k60)").as("content_xor"))
  }

  /** Per-bucket Merkle-style checksums: rows route to `buckets` lanes
    * by a hash of `keyCols`, and each lane carries [[tableChecksum]]'s
    * three channels (count, 32-bit-md5 sum, 60-bit xor) over `cols`.
    * One map pass + a `buckets`-row partial-agg shuffle — the summary
    * of a 100 TB table is a fixed-size table, and lanes from disjoint
    * shards merge by (+, +, xor). */
  def bucketChecksum(df: DataFrame, keyCols: Seq[String],
                     cols: Seq[String], buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val keyHex = md5(concat_ws("|", keyCols.map(digestCol): _*))
    val rowHex = md5(concat_ws("|", cols.map(digestCol): _*))
    df.select(
        pmod(conv(substring(keyHex, 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bucket"),
        conv(substring(rowHex, 1, 8), 16, 10).cast("long").as("__k32"),
        conv(substring(rowHex, 1, 15), 16, 10).cast("long").as("__k60"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum("__k32").as("content_sum"),
        expr("bit_xor(__k60)").as("content_xor"))
  }

  /** Merkle diff, pass 1 — WHICH buckets differ between two table
    * versions: full-outer join of the two `buckets`-row checksum
    * tables, keep lanes where any channel disagrees (null-safe: a
    * bucket present on one side only is a diff). "Did anything change,
    * and where" for a 10^12-row replica costs two aggregating scans
    * and a tiny join — never a row-level comparison. */
  def bucketDiff(before: DataFrame, after: DataFrame, keyCols: Seq[String],
                 cols: Seq[String], buckets: Int): DataFrame = {
    val b = bucketChecksum(before, keyCols, cols, buckets)
      .select(col("bucket"), col("n_rows").as("n_before"),
        col("content_sum").as("sum_before"),
        col("content_xor").as("xor_before"))
    val a = bucketChecksum(after, keyCols, cols, buckets)
      .select(col("bucket"), col("n_rows").as("n_after"),
        col("content_sum").as("sum_after"),
        col("content_xor").as("xor_after"))
    b.join(a, Seq("bucket"), "full_outer")
      .where(!(col("n_before") <=> col("n_after")) ||
        !(col("sum_before") <=> col("sum_after")) ||
        !(col("xor_before") <=> col("xor_after")))
      .select(col("bucket"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("sum_before"), lit(0L)).as("sum_before"),
        coalesce(col("sum_after"), lit(0L)).as("sum_after"),
        coalesce(col("xor_before"), lit(0L)).as("xor_before"),
        coalesce(col("xor_after"), lit(0L)).as("xor_after"))
  }

  /** Merkle diff, pass 2 — WHICH keys differ, touching only the dirty
    * buckets pass 1 found: both sides filter to those buckets BEFORE
    * the row-digest full-outer join (a broadcast of the ≤ `buckets`-row
    * dirty list; on a store partitioned by the bucket column this is
    * static partition pruning, so the drill-down reads only changed
    * shards). Emits one row per differing key: added / removed /
    * changed. */
  def bucketDiffKeys(before: DataFrame, after: DataFrame,
                     keyCols: Seq[String], cols: Seq[String],
                     buckets: Int): DataFrame = {
    val dirty = bucketDiff(before, after, keyCols, cols, buckets)
      .select("bucket")
    def digests(df: DataFrame, side: String): DataFrame = {
      val keyHex = md5(concat_ws("|", keyCols.map(digestCol): _*))
      val rowHex = md5(concat_ws("|", cols.map(digestCol): _*))
      df.select(keyCols.map(col) ++ Seq(
          pmod(conv(substring(keyHex, 1, 8), 16, 10).cast("long"),
            lit(buckets.toLong)).as("bucket"),
          conv(substring(rowHex, 1, 15), 16, 10).cast("long")
            .as(s"__d_$side")): _*)
        .join(broadcast(dirty), Seq("bucket"), "left_semi")
    }
    digests(before, "b").join(digests(after, "a")
        .withColumnRenamed("bucket", "__bucket_a"),
        keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("__d_a").isNull, lit("removed"))
          .when(col("__d_b").isNull, lit("added"))
          .when(col("__d_b") =!= col("__d_a"), lit("changed"))
          .as("status"): _*)
      .where(col("status").isNotNull)
  }

  /** Fixed-width histogram of `valueCol`: bin = floor((v − lo) / width),
    * plus each bin's row count and 2-dp value sum. Bin id is a pure map
    * over the scan; the groupBy combines map-side. Constant (lo, width)
    * — never data-dependent bounds, which would cost an extra pass. */
  def histogram(df: DataFrame, valueCol: String, lo: Double,
                width: Double): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    df.withColumn("bin",
        floor((col(valueCol) - lit(lo)) / lit(width)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), round(sum(col(valueCol)), 2).as("v_sum"))
  }

  /** Count-min sketch over `keyCol`: `depth` hash rows × `width`
    * buckets, bucket_r(k) = first-32-md5-bits("cms{r}:" ++ k) mod width
    * — a replayable family any engine recomputes bit-for-bit. The
    * sketch IS the aggregation state: one pure-map pass emits `depth`
    * (row, bucket) pairs per input row, a map-side-combined groupBy
    * reduces them to ≤ depth·width cells — a FIXED-size summary
    * regardless of corpus size, and cells from disjoint shards merge by
    * addition (the property that lets 1000 executors sketch 100 TB and
    * union the results). Frequency estimates from [[cmsEstimate]] are
    * upper bounds: est ≥ true always, est ≤ true + εN with prob 1−δ for
    * width = e/ε, depth = ln(1/δ). */
  def cmsSketch(df: DataFrame, keyCol: String, depth: Int,
                width: Int): DataFrame = {
    require(depth > 0 && width > 0, s"need depth,width > 0: $depth, $width")
    val buckets = array((0 until depth).map { r =>
      Md5Prefix(concat(lit(s"cms$r:"),
        col(keyCol).cast("string")), 8) % width
    }: _*)
    df.select(posexplode(buckets).as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates from a [[cmsSketch]]: min over the
    * sketch's `depth` rows of the probed cell. The sketch (≤ depth·width
    * rows) broadcasts; probing any number of keys is a pure map + one
    * broadcast join — the heavy-hitter read path never touches the
    * corpus again. `probes` must carry distinct `keyCol` values. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
                  depth: Int, width: Int): DataFrame = {
    val buckets = array((0 until depth).map { r =>
      Md5Prefix(concat(lit(s"cms$r:"),
        col(keyCol).cast("string")), 8) % width
    }: _*)
    probes.select(col(keyCol), posexplode(buckets).as(Seq("row", "bucket")))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(keyCol)
      .agg(min("cnt").as("cms_est"))
  }

  /** Mergeable-histogram percentile estimates: one map pass bins
    * `valueCol` into `nBins` fixed-width buckets (clamped at the
    * edges), the partial-agg shuffle carries ≤ nBins cells, and each
    * requested percentile linearly interpolates inside the bin whose
    * cumulative count crosses p·N. Error is bounded by one bin width —
    * the single-pass, merge-friendly percentile for 100 TB, where the
    * exact-sort `percentile()` (see [[quantileCutpoints]]) costs a full
    * shuffle of the data. The cumulative window runs on the ≤ nBins-row
    * bin table, never on raw rows. */
  def histogramPercentiles(df: DataFrame, valueCol: String, lo: Double,
                           width: Double, nBins: Int,
                           ps: Seq[Double]): DataFrame = {
    require(width > 0 && nBins > 0, s"need width,nBins > 0: $width, $nBins")
    require(ps.forall(p => p > 0 && p < 1), s"percentiles in (0,1): $ps")
    val bin = least(greatest(floor((col(valueCol) - lit(lo)) / lit(width)),
      lit(0L)), lit((nBins - 1).toLong))
    val bins = df.select(bin.as("__bin"))
      .groupBy("__bin").agg(count(lit(1)).as("__cnt"))
    // both windows run on the ≤ nBins-row bin table — single-partition
    // by construction, not by accident
    val cum = bins
      .withColumn("__cum", sum("__cnt").over(
        Window.orderBy("__bin").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__total", sum("__cnt").over(
        Window.partitionBy()))
    val probes = df.sparkSession.createDataFrame(
      ps.map(Tuple1.apply)).toDF("p")
    val target = col("p") * col("__total")
    probes.join(cum,
        col("__cum") >= target && col("__cum") - col("__cnt") < target)
      .select(col("p"), round(lit(lo) + lit(width) * (col("__bin") +
        (target - (col("__cum") - col("__cnt"))) / col("__cnt")), 6)
        .as("est"))
  }

  /** Per-group [[histogramPercentiles]]: the bin pass groups by
    * (`groupCol`, bin), and the cumulative windows partition by
    * `groupCol` — still running on the ≤ |groups|·nBins bin table, so
    * no group ever sorts its raw rows. One output row per (group, p). */
  def histogramPercentilesGrouped(df: DataFrame, groupCol: String,
                                  valueCol: String, lo: Double,
                                  width: Double, nBins: Int,
                                  ps: Seq[Double]): DataFrame = {
    require(width > 0 && nBins > 0, s"need width,nBins > 0: $width, $nBins")
    require(ps.forall(p => p > 0 && p < 1), s"percentiles in (0,1): $ps")
    val bin = least(greatest(floor((col(valueCol) - lit(lo)) / lit(width)),
      lit(0L)), lit((nBins - 1).toLong))
    val bins = df.select(col(groupCol), bin.as("__bin"))
      .groupBy(groupCol, "__bin").agg(count(lit(1)).as("__cnt"))
    val byGroup = Window.partitionBy(groupCol)
    val cum = bins
      .withColumn("__cum", sum("__cnt").over(
        byGroup.orderBy("__bin").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__total", sum("__cnt").over(byGroup))
    val probes = df.sparkSession.createDataFrame(
      ps.map(Tuple1.apply)).toDF("p")
    val target = col("p") * col("__total")
    probes.join(cum,
        col("__cum") >= target && col("__cum") - col("__cnt") < target)
      .select(col(groupCol), col("p"), round(lit(lo) + lit(width) *
        (col("__bin") + (target - (col("__cum") - col("__cnt"))) /
          col("__cnt")), 6).as("est"))
  }

  /** Equi-join output-size estimate from two [[cmsSketch]]es built with
    * the same (depth, width): per hash row the inner product
    * Σ_b cntA·cntB over the ≤ width shared cells, then the min across
    * rows — the AMS/CMS estimator of Σ_k f_A(k)·f_B(k), which IS the
    * join cardinality. Always an upper bound; expected slack per row is
    * |A|·|B|/width. The whole estimate touches only the two fixed-size
    * sketches (≤ depth·width rows each) — the cost of sizing a 100 TB ⋈
    * 100 TB join drops to a sketch pass per side, which is how a
    * planner decides broadcast-vs-shuffle without running the join. */
  def cmsJoinSizeEstimate(sketchA: DataFrame,
                          sketchB: DataFrame): DataFrame =
    sketchA.withColumnRenamed("cnt", "cnt_a")
      .join(sketchB.withColumnRenamed("cnt", "cnt_b"),
        Seq("row", "bucket"))
      .groupBy("row").agg(sum(col("cnt_a") * col("cnt_b")).as("z"))
      .agg(min("z").as("join_size_est"))

  /** HyperLogLog registers over `keyCol`: `2^p` buckets addressed by the
    * top `p` bits of a 60-bit md5-prefix hash, each holding the max
    * leading-zero rank ρ of the remaining `60-p` bits. The register
    * table (≤ 2^p rows, whatever the corpus size) is the whole sketch
    * state, built by one pure-map pass + one max-combine shuffle;
    * registers from disjoint shards merge by per-bucket `max` — the
    * property that lets every executor sketch its split and a single
    * small reduce union a 100 TB scan. The md5 family (vs the
    * production `approx_count_distinct` HLL) is chosen precisely so any
    * engine can replay the sketch bit-for-bit: ρ is derived from
    * integer `bin()`-length arithmetic, never floating point. */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int): DataFrame =
    hllRegistersGrouped(df, Nil, keyCol, p)

  /** [[hllRegisters]] keyed by `groupCols`: one independent register
    * set per group (≤ |groups|·2^p rows total) from the same single
    * pass — the scale answer to `COUNT(DISTINCT x) GROUP BY g`, whose
    * exact form shuffles every (g, x) pair. Same per-bucket-max merge
    * across shards, now within each group. */
  def hllRegistersGrouped(df: DataFrame, groupCols: Seq[String],
                          keyCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p in [4,16]: $p")
    val wBits = 60 - p
    val hash = Md5Prefix(col(keyCol).cast("string"), 15)
    val w = hash.bitwiseAND(lit((1L << wBits) - 1))
    val rho = when(w === 0, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(w)))
    df.select(groupCols.map(col) ++
        Seq(shiftright(hash, wBits).as("bucket"), rho.as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max("rho").as("m_reg"))
  }

  /** Cardinality estimate from [[hllRegisters]]: the standard
    * alpha·m²/Z harmonic mean with linear-counting small-range
    * correction. Z is accumulated in EXACT integer arithmetic
    * (Σ 2^(maxρ−ρ_j) as BIGINT — every term a power of two, so the sum
    * is order-independent where a double accumulation would depend on
    * reduce order); the single float division happens once at the end,
    * making the estimate bit-identical on any engine that replays the
    * registers. One row out: `hll_est`, rounded to 4 dp. */
  def hllEstimate(registers: DataFrame, p: Int): DataFrame =
    hllEstimateGrouped(registers, Nil, p)

  /** Per-group estimates from [[hllRegistersGrouped]] — same exact
    * integer Z + single trailing division per group, over a table of
    * register cells, never raw rows. */
  def hllEstimateGrouped(registers: DataFrame, groupCols: Seq[String],
                         p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p in [4,16]: $p")
    val m = 1 << p
    val maxRho = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val numer = alpha * m * m * math.pow(2.0, maxRho)
    val partials = registers
      .groupBy(groupCols.map(col): _*)
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $maxRho - m_reg)"))
          .as("__zp"),
        count(lit(1)).as("__nonempty"))
      .select(groupCols.map(col) ++ Seq(
        (lit(m.toLong) - col("__nonempty")).as("__v"),
        (col("__zp") + (lit(m.toLong) - col("__nonempty")) *
          lit(1L << maxRho)).as("__z")): _*)
    partials.select(groupCols.map(col) :+
      round(when(
          lit(numer) / col("__z") <= lit(2.5 * m) && col("__v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("__v")))
        .otherwise(lit(numer) / col("__z")), 4).as("hll_est"): _*)
  }

  /** Truncated exponentially-weighted moving average per key: over the
    * last `span` rows (frame order = `orderCols`), weight (1−α)^j at
    * lag j, normalized over the rows actually present (so early rows
    * use their shorter history, matching pandas `ewm(adjust=True)`
    * truncated to `span`). Implemented as `span` fixed `lag()` terms
    * over ONE window pass — a fixed left-to-right expression tree, so
    * the float arithmetic is order-deterministic and replays
    * bit-identically from the generated SQL twin; an array-collect
    * formulation would instead depend on aggregation order. The
    * truncation is what makes the operator scale-safe: the exact
    * infinite-history EWMA needs (1−α)^(−rowid) factors that overflow
    * doubles after ~700 rows, while a bounded frame is O(span) state
    * per key at any corpus size. Weights below ~1e-3·max (span 20,
    * α 0.3) are dropped by construction — within round-6 display
    * precision of the untruncated series. */
  def ewma(df: DataFrame, partCols: Seq[String], orderCols: Seq[String],
           valueCol: String, alpha: Double, span: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    require(span > 0, s"span must be positive, got $span")
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val terms = (0 until span).map { j =>
      val wj = math.pow(1.0 - alpha, j)
      val lv = if (j == 0) col(valueCol) else lag(col(valueCol), j).over(w)
      (coalesce(lv * lit(wj), lit(0.0)),
        when(lv.isNotNull, lit(wj)).otherwise(lit(0.0)))
    }
    // arithmetic 6-dp rounding (floor(x*1e6+0.5)/1e6): identical IEEE
    // ops on any engine, where round() ties can differ cross-engine
    df.withColumn("ewma",
      floor(terms.map(_._1).reduce(_ + _) /
        terms.map(_._2).reduce(_ + _) * 1e6 + 0.5) / 1e6)
  }

  /** Population-stability-index drift report between two versions of a
    * numeric column (the standard model-monitoring / data-drift gate):
    * bucket BOTH versions by the BASELINE's exact decile cutpoints
    * (one 1-row reduce broadcast back — never a second quantile pass
    * on the comparison side), compare per-bucket population shares,
    * and report each bucket's PSI contribution
    * (p_cur − p_base)·ln(p_cur/p_base) plus the total. Shares are
    * rounded to 6 dp BEFORE the ln so the report replays
    * bit-identically cross-engine (the bm25 precedent: libm `ln` on
    * identical inputs is correctly rounded everywhere; it is DIFFERING
    * inputs that diverge). Two aggregating scans + bucket-count-sized
    * arithmetic — the "did last week's corpus still look like
    * training" check at any scale. */
  def driftPsi(base: DataFrame, current: DataFrame, valueCol: String,
               nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"need >= 2 buckets, got $nBuckets")
    val round6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cuts = quantileCutpoints(base, valueCol, probs)
    def shares(df: DataFrame, share: String): DataFrame =
      bucketByCutpoints(df, valueCol, cuts)
        .groupBy("bucket").agg(count(lit(1)).as("__n"))
        .withColumn(share,
          round6(col("__n") / sum(col("__n")).over(Window.partitionBy())))
        .drop("__n")
    shares(base, "p_base")
      .join(shares(current, "p_cur"), Seq("bucket"), "full_outer")
      .select(col("bucket").cast("long").as("bucket"),
        coalesce(col("p_base"), lit(0.0)).as("p_base"),
        coalesce(col("p_cur"), lit(0.0)).as("p_cur"))
      .withColumn("psi",
        when(col("p_base") > 0 && col("p_cur") > 0,
          round6((col("p_cur") - col("p_base")) *
            log(col("p_cur") / col("p_base")))))
  }

  /** Per-group [[driftPsi]]: each group buckets by ITS OWN baseline
    * cutpoints (one grouped percentile aggregate, broadcast back), so
    * drift in one segment cannot hide inside another's distribution —
    * the per-language / per-source corpus-drift report. The share
    * window runs on the |groups|·buckets table, never raw rows.
    *
    * A group present only in `current` (a brand-new segment — the
    * worst blind spot for a drift monitor if silently dropped) has no
    * baseline cutpoints to bucket by; it is emitted EXPLICITLY as one
    * row with a null bucket, its full current share (p_cur = its row
    * fraction within the group, i.e. 1.0), p_base = 0, and null psi —
    * the caller's "alert: unseen segment" signal. The current side
    * therefore LEFT-joins the cutpoint table; the base side's join is
    * inner (every base group has cutpoints by construction). */
  def driftPsiGrouped(base: DataFrame, current: DataFrame,
                      groupCol: String, valueCol: String,
                      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"need >= 2 buckets, got $nBuckets")
    val round6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cuts = base.groupBy(groupCol)
      .agg(percentile(col(valueCol), array(probs.map(lit): _*))
        .as("__cuts"))
    def shares(df: DataFrame, share: String,
               joinType: String): DataFrame =
      df.join(broadcast(cuts), Seq(groupCol), joinType)
        // null __cuts (group unseen in base) folds to a null bucket:
        // the new-segment rows group under one explicit null-bucket row
        .withColumn("bucket", aggregate(col("__cuts"), lit(1),
          (acc, c) => acc +
            when(col(valueCol) > round(c, 6), 1).otherwise(0)))
        .groupBy(groupCol, "bucket").agg(count(lit(1)).as("__n"))
        .withColumn(share, round6(col("__n") /
          sum(col("__n")).over(Window.partitionBy(groupCol))))
        .drop("__n")
    shares(base, "p_base", "inner")
      .join(shares(current, "p_cur", "left"), Seq(groupCol, "bucket"),
        "full_outer")
      .select(col(groupCol), col("bucket").cast("long").as("bucket"),
        coalesce(col("p_base"), lit(0.0)).as("p_base"),
        coalesce(col("p_cur"), lit(0.0)).as("p_cur"))
      .withColumn("psi",
        when(col("p_base") > 0 && col("p_cur") > 0,
          round6((col("p_cur") - col("p_base")) *
            log(col("p_cur") / col("p_base")))))
  }

  /** Streaming-shaped anomaly flags from an EWMA forecast: a row is
    * anomalous when |value − forecast| exceeds `k`·σ, with the
    * forecast = the PREVIOUS row's [[ewma]] (what a monitor would have
    * predicted before seeing the row) and σ the trailing sample stddev
    * over the same span (current row excluded). σ comes from the
    * explicit sum/sum-of-squares form — window sums both engines
    * compute the same way — never an engine-native `stddev` whose
    * accumulation order differs. Rows without a forecast or with fewer
    * than `minN` trailing observations are never flagged (a cold key
    * must not alarm). One window pass; O(span) state per key — the
    * alerting layer over the smoothing layer, same shapes. */
  def ewmaAnomaly(df: DataFrame, partCols: Seq[String],
                  orderCols: Seq[String], valueCol: String, alpha: Double,
                  span: Int, k: Double = 3.0, minN: Int = 5): DataFrame = {
    require(k > 0 && minN >= 2, s"need k > 0, minN >= 2: $k, $minN")
    val round6 = (c: Column) => floor(c * 1e6 + 0.5) / 1e6
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val trail = w.rowsBetween(-span, -1)
    val withE = ewma(df, partCols, orderCols, valueCol, alpha, span)
    val forecast = lag(col("ewma"), 1).over(w)
    val n = count(col(valueCol)).over(trail)
    val s1 = sum(col(valueCol)).over(trail)
    val s2 = sum(col(valueCol) * col(valueCol)).over(trail)
    val sigma = sqrt(greatest(
      (s2 - s1 * s1 / n) / (n - lit(1)), lit(0.0)))
    val score = round6(abs(col(valueCol) - forecast) - lit(k) * sigma)
    withE
      .withColumn("forecast", round6(forecast))
      .withColumn("anom_score",
        when(forecast.isNotNull && n >= minN, score))
      .withColumn("is_anomaly",
        coalesce(col("anom_score") > 0, lit(false)))
  }

  /** The KMV hash domain: 15 hex md5 digits = 60 uniform bits. 2^60 is
    * a power of two, hence exactly representable as a double — the
    * normalization `h / 2^60` is one exact-operand IEEE division on any
    * engine. */
  private val KmvDomain = 1152921504606846976.0 // 16^15 = 2^60

  /** KMV (k-minimum-values / bottom-k) distinct sketch of `keyCol`:
    * the `k` smallest DISTINCT 60-bit md5-prefix hashes. Where
    * [[hllRegisters]] answers only cardinality, a KMV sketch is a
    * uniform sample of the key's hash domain, so two sketches support
    * SET operations (union, Jaccard, intersection — [[kmvSetOps]]),
    * which HLL cannot express without inclusion-exclusion error
    * stacking. Shape at scale: the `distinct` shuffles only unique
    * hashes (map-side combine collapses repeats per task), and the
    * ordered `limit(k)` plans as TakeOrderedAndProject — per-partition
    * bottom-k buffers merged once, never a global sort. The sketch
    * merges by "union then keep k smallest" ([[kmvSetOps]] relies on
    * exactly that), so 1000 executors sketch their shards and a k-row
    * reduce combines them. */
  /** The sketch's aggregation state: the distinct 60-bit hashes of
    * `keyCol`. This stage is a plain streaming-compatible aggregation
    * (complete-mode twin spec'd); [[kmvSketch]]'s bottom-k is the read
    * path over it. */
  def kmvHashes(df: DataFrame, keyCol: String): DataFrame =
    df.select(Md5Prefix(col(keyCol).cast("string"), 15).as("h"))
      .where(col("h").isNotNull)
      // groupBy rather than distinct(): same batch plan family, but
      // streaming-wise this is an Aggregate (complete-mode capable)
      // where Deduplicate would be append/update-only
      .groupBy("h").agg(count(lit(1)).as("__n")).select("h")

  def kmvSketch(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 1, s"k must exceed 1, got $k")
    kmvHashes(df, keyCol).orderBy("h").limit(k)
  }

  /** Distinct-count estimate from a [[kmvSketch]]: with fewer than `k`
    * observed hashes the sketch IS the distinct set (exact count);
    * otherwise the classic unbiased (k−1)/u_k where u_k is the k-th
    * smallest hash normalized to (0,1). One aggregation over ≤ k rows;
    * the only float op is a single division, so the estimate replays
    * bit-identically on any engine. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.agg(count(lit(1)).as("__n"), max(col("h")).as("__vk"))
      .select(round(when(col("__n") < k, col("__n").cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          (col("__vk").cast("double") / lit(KmvDomain))), 4).as("kmv_est"))

  /** Set-operation estimates between two keyed slices from their KMV
    * sketches alone: build bottom-k sketches of each side, merge them
    * into the union's bottom-k (the KMV merge property), and read off
    *  - est_union  — (k−1)/u_k on the merged sketch,
    *  - jaccard    — the fraction of the union's k smallest hashes
    *                 present in BOTH sides (the standard KMV Jaccard
    *                 estimator; exact when both sides fit under k),
    *  - est_intersect — jaccard · est_union.
    * Everything after the two corpus scans runs on ≤ 2k rows. This is
    * the 100 TB overlap audit: "how many users/documents do these two
    * pipelines share" costs two sketch scans and a k-row merge, never
    * a join of the corpora. */
  def kmvSetOps(a: DataFrame, b: DataFrame, keyCol: String,
                k: Int): DataFrame = {
    val sa = kmvSketch(a, keyCol, k)
    val sb = kmvSketch(b, keyCol, k)
    val merged = sa.select(col("h"), lit(1).as("ina"), lit(0).as("inb"))
      .unionByName(sb.select(col("h"), lit(0).as("ina"), lit(1).as("inb")))
      .groupBy("h").agg(max("ina").as("ina"), max("inb").as("inb"))
      .orderBy("h").limit(k)
    val u = merged.agg(count(lit(1)).as("__n"), max(col("h")).as("__vk"),
      sum(col("ina") * col("inb")).as("__nboth"))
    val estU = when(col("__n") < k, col("__n").cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (col("__vk").cast("double") / lit(KmvDomain)))
    u.select(lit(k).as("k"),
        round(estU, 4).as("est_union"),
        round(col("__nboth").cast("double") / col("__n"), 6).as("jaccard"),
        round(estU * (col("__nboth").cast("double") / col("__n")), 4)
          .as("est_intersect"))
      .crossJoin(broadcast(kmvEstimate(sa, k)
        .withColumnRenamed("kmv_est", "est_a")))
      .crossJoin(broadcast(kmvEstimate(sb, k)
        .withColumnRenamed("kmv_est", "est_b")))
  }

  /** Per-group [[kmvSketch]]: each group's k smallest distinct hashes,
    * drawn by the custom bounded-buffer top-k operator (k-row buffer
    * per group on each side of one hash exchange after the distinct
    * collapse — no window sort). "Distinct users per segment over
    * 100 TB with set-operation support" at k rows of state per group,
    * where [[hllRegistersGrouped]] answers only cardinality. */
  def kmvSketchGrouped(df: DataFrame, groupCol: String, keyCol: String,
                       k: Int): DataFrame = {
    require(k > 1, s"k must exceed 1, got $k")
    val hashed = df.select(col(groupCol).as("__g"),
        Md5Prefix(col(keyCol).cast("string"), 15).as("h"))
      .where(col("h").isNotNull)
      .groupBy("__g", "h").agg(count(lit(1)).as("__n"))
      .select(col("__g"), col("h"))
      .withColumn("negh", -col("h"))
    topKPerGroupExec(hashed, Seq("__g"), "negh", k, Seq.empty)
      .select(col("__g"), col("h"))
  }

  /** Per-group distinct estimate off a [[kmvSketchGrouped]]: exact
    * below k, else (k−1)/u_k — the same single-division estimator as
    * [[kmvEstimate]], windowless (one grouped aggregate over ≤ k rows
    * per group). Output: (__g, kmv_est). */
  def kmvEstimateGrouped(sketch: DataFrame, k: Int): DataFrame =
    sketch.groupBy("__g")
      .agg(count(lit(1)).as("__n"), max(col("h")).as("__vk"))
      .select(col("__g"),
        round(when(col("__n") < k, col("__n").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (col("__vk").cast("double") / lit(KmvDomain))), 4)
          .as("kmv_est"))

  /** Bottom-k-by-hash uniform ROW sample — the quantile companion to
    * [[kmvSketch]]: where KMV samples the key's hash domain (distinct
    * values), this samples ROWS uniformly by hashing a caller-supplied
    * UNIQUE row key, so order statistics of `valueCol` on the sample
    * estimate the corpus quantiles with rank error O(1/√k). The sketch
    * is fixed-size, deterministic (replayable on any engine from the
    * md5 prefix alone), and mergeable: because every row's hash is
    * global, the bottom-k of a union of shard bottom-ks IS the
    * bottom-k of the union — [[qsketchMerge]] is exact, not
    * approximate, so 1000 executors sample their shards and a k-row
    * reduce yields the corpus sample. Plans as TakeOrderedAndProject:
    * per-partition bottom-k buffers, one k-row merge, never a global
    * sort — the 100 TB "what is p99 latency" answer at the cost of one
    * scan plus k rows of driver-side state. */
  def qsketchSample(df: DataFrame, rowKey: Column, valueCol: String,
                    k: Int): DataFrame = {
    require(k > 1, s"k must exceed 1, got $k")
    df.select(Md5Prefix(rowKey.cast("string"), 15).as("h"),
        col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull && col("h").isNotNull)
      // v as tie-break: a 15-hex collision is ~n²/2⁶¹ improbable, but
      // the sample stays deterministic-by-construction even then
      .orderBy("h", "v").limit(k)
  }

  /** Quantile read-off over a [[qsketchSample]]: the deterministic
    * lower-index rule `idx = ⌊p·(n−1)⌋` over the sample sorted by
    * `(v, h)` — no interpolation, so the estimate is an actual sample
    * element and replays bit-identically cross-engine (ties broken by
    * the hash). The window runs on ≤ k rows by construction. */
  def qsketchQuantiles(sample: DataFrame,
                       probs: Seq[(String, Double)]): DataFrame = {
    val ranked = sample
      .withColumn("rn", row_number().over(Window.orderBy("v", "h")))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(lit(1))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
    val spark = sample.sparkSession
    import spark.implicits._
    val pdf = probs.toDF("prob", "p")
    broadcast(pdf).join(ranked,
        col("rn") === floor(col("p") * (col("n") - 1)) + 1)
      .select(col("prob"), col("v").as("est_q"))
  }

  /** Exact shard merge of [[qsketchSample]]s (union, keep k smallest
    * hashes) — equals the direct sample of the union when the shards
    * partition it, the contract `agg_qsketch_merge` gates. */
  def qsketchMerge(shards: Seq[DataFrame], k: Int): DataFrame =
    shards.reduce(_ unionByName _).orderBy("h").limit(k)

  /** Per-group [[qsketchSample]]: a bottom-k-by-hash row sample PER
    * GROUP, drawn by the one-pass bounded-buffer top-k operator
    * ([[topKPerGroupExec]]; h negated because it keeps the k largest)
    * — one hash exchange, k rows of state per group on each side,
    * never a window sort. "p99 per segment over 100 TB" at one scan
    * plus k rows per group. Output: groupCols + (h, v). */
  def qsketchSampleGrouped(df: DataFrame, groupCols: Seq[String],
                           rowKey: Column, valueCol: String,
                           k: Int): DataFrame = {
    require(k > 1, s"k must exceed 1, got $k")
    val hashed = df.select(groupCols.map(col) ++ Seq(
        Md5Prefix(rowKey.cast("string"), 15).as("h"),
        col(valueCol).cast("double").as("v")): _*)
      .where(col("v").isNotNull && col("h").isNotNull)
      .withColumn("negh", -col("h"))
    topKPerGroupExec(hashed, groupCols, "negh", k, Seq("v"))
      .select(groupCols.map(col) ++ Seq(col("h"), col("v")): _*)
  }

  /** Equi-depth range bucketing from a [[qsketchSample]] — the
    * TeraSort-sampler shape: to range-partition 100 TB by `valueCol`
    * into nBuckets balanced files, read nBuckets−1 cutpoints off the
    * k-row sketch (the deterministic lower-index rule, so the cuts —
    * and hence every row's bucket — replay bit-identically on any
    * engine, unlike Spark's own RangePartitioner whose reservoir
    * sample is nondeterministic) and assign each row by counting the
    * cuts strictly below it: a pure map over the corpus, one scan
    * total after the sketch, never a global sort. Balance error is
    * the sketch's O(1/√k) rank error. Output: df + `bucket` (0-based).
    *
    * The only driver state is the nBuckets−1 collected cut values —
    * cuts must be plan literals for the assignment to stay a map. */
  def qsketchRangeBuckets(df: DataFrame, rowKey: Column, valueCol: String,
                          k: Int, nBuckets: Int): DataFrame = {
    require(nBuckets > 1, s"nBuckets must exceed 1, got $nBuckets")
    val sample = qsketchSample(df, rowKey, valueCol, k)
    val probs = (1 until nBuckets).map(i =>
      (i.toString, i.toDouble / nBuckets))
    val cuts = qsketchQuantiles(sample, probs)
      .collect()
      .map(r => (r.getString(0).toInt, r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    df.withColumn("bucket", cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(valueCol) > lit(c), 1).otherwise(0)
    })
  }

  /** EXACT interpolated quantiles (`quantile_cont` semantics) without
    * a global sort — sketch-guided selection: the [[qsketchSample]]
    * cutpoints split the value domain into nBuckets lanes; one
    * aggregating scan counts each lane; cumulative counts locate, on
    * the driver (nBuckets longs), which lane holds each target rank;
    * a second scan fetches ONLY the candidate lanes' rows (a
    * ~1/nBuckets fraction, within the sketch's rank error) and a
    * bounded TakeOrdered inside each lane yields the exact ranked
    * elements. Two scans + a lane-sized top-k, versus the exact
    * `percentile` aggregate that buffers every row in one reducer —
    * the 100 TB "exact p99, provably, no global sort" path.
    *
    * Interpolation is the standard `(1−g)·lo + g·hi` at
    * `h = p·(n−1)`, matching Spark `percentile` and DuckDB
    * `quantile_cont` exactly. Output: (prob, exact_q). */
  def exactQuantilesSelect(df: DataFrame, rowKey: Column, valueCol: String,
                           probs: Seq[(String, Double)], k: Int = 1024,
                           nBuckets: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // pin the slim (v, bucket) projection ONCE (round 19, guide §2.4):
    // the lane-count pass and the candidate fetch are two separate
    // executions (both end in driver collects), and without the pin
    // each re-runs the corpus scan plus the 2·(nBuckets−1)-comparison
    // bucket-assignment fold
    val bucketed = Checkpoints.pin(qsketchRangeBuckets(
      df.where(col(valueCol).isNotNull), rowKey, valueCol, k, nBuckets)
      .select(col(valueCol).cast("double").as("v"), col("bucket")))
    val laneCounts = bucketed.groupBy("bucket").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val n = laneCounts.values.sum
    require(n > 0, "exactQuantilesSelect needs at least one non-null row")
    val cum = (0 until nBuckets).scanLeft(0L) { (acc, b) =>
      acc + laneCounts.getOrElse(b, 0L)
    } // cum(b) = rows in lanes < b
    // global ranks (0-based) needed per probe: floor(h) and ceil(h)
    val targets = probs.flatMap { case (_, p) =>
      val h = p * (n - 1)
      Seq(math.floor(h).toLong, math.ceil(h).toLong)
    }.distinct.sorted
    def laneOf(rank: Long): Int = {
      val b = java.util.Arrays.binarySearch(cum.toArray, rank)
      if (b >= 0) {
        // rank == cum(b): first row of the next non-empty lane >= b
        (b until nBuckets).find(i => cum(i + 1) > rank).get
      } else -b - 2
    }
    val lanes = targets.map(laneOf).distinct
    // ONE candidate scan covers every lane holding a target rank: the
    // filter keeps ~|lanes|/nBuckets of the corpus and a per-lane rank
    // window runs over just that slice (lane size is ~n/nBuckets, the
    // fraction the caller sizes to fit an executor). The rank filter
    // then keeps ONLY the floor/ceil target rows themselves — the
    // driver collect is O(#probs), never a lane prefix (a rank landing
    // deep in a lane used to pull the whole prefix, the round-13
    // perf-weak finding)
    val neededByLane: Map[Int, Seq[Int]] = targets.groupBy(laneOf)
      .map { case (b, rs) =>
        b -> rs.map(r => (r - cum(b)).toInt + 1).distinct
      }
    val keepTargets = neededByLane.map { case (b, rns) =>
      col("bucket") === lit(b) &&
        col("__rn").isin(rns.map(Integer.valueOf): _*)
    }.reduce(_ || _)
    val byRank: Map[(Int, Int), Double] = bucketed
      .where(col("bucket").isin(lanes.map(Integer.valueOf): _*))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("bucket").orderBy("v")))
      .where(keepTargets)
      .select("bucket", "__rn", "v")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    def at(rank: Long): Double = {
      val b = laneOf(rank)
      byRank((b, (rank - cum(b)).toInt + 1))
    }
    val rows = probs.map { case (label, p) =>
      val h = p * (n - 1)
      val (lo, hi) = (at(math.floor(h).toLong), at(math.ceil(h).toLong))
      val g = h - math.floor(h)
      // lo + (hi−lo)·g, the exact float order quantile_cont uses
      (label, lo + (hi - lo) * g)
    }
    rows.toDF("prob", "exact_q")
  }

  /** Per-group equi-depth cut table: one `(group, sorted cut array)`
    * row per group, read off each group's bottom-k sketch by the
    * deterministic lower-index rule and kept as a DataFrame so
    * assignment stays a broadcast join + pure map (never a per-group
    * literal CASE, which hits codegen limits at large |groups|).
    * Materialized once so multiple readers never rerun the
    * grouped-sketch pass — as DRIVER-LITERAL rows (one
    * [[BoundedCollect]] probes AND fetches; the broadcast then builds
    * with no job) when there are at most [[LanedPrefix.broadcastRowCap]]
    * / nBuckets groups, as an executor checkpoint beyond. A cut row
    * holds nBuckets − 1 doubles, so the cap counts (group, lane) cells.
    * Returns (frame, fitsTheCap). */
  private def groupedCutTable(nn: DataFrame, groupCol: String,
                              rowKey: Column, valueCol: String,
                              k: Int, nBuckets: Int)
      : (DataFrame, Boolean) = {
    val cutProbs = (1 until nBuckets).map(i =>
      (i.toString, i.toDouble / nBuckets))
    val aggDf = qsketchQuantilesGrouped(
        qsketchSampleGrouped(nn.withColumnRenamed(groupCol, "__g"),
          Seq("__g"), rowKey, valueCol, k), Seq("__g"), cutProbs)
      .groupBy("__g")
      .agg(array_sort(collect_list(struct(col("prob").cast("int")
        .as("i"), col("est_q").as("q")))).as("__cs"))
      .select(col("__g"), expr("transform(__cs, x -> x.q)").as("__cuts"))
    BoundedCollect(aggDf, LanedPrefix.broadcastRowCap / nBuckets) match {
      case Some(rows) =>
        import scala.jdk.CollectionConverters._
        (nn.sparkSession.createDataFrame(rows.toSeq.asJava, aggDf.schema),
          true)
      case None => (Checkpoints.pin(aggDf), false)
    }
  }

  /** Per-group [[qsketchRangeBuckets]]: equi-depth range bucketing
    * WITHIN each group — each group's domain is laned by its own
    * sketch cutpoints, so every group splits into ~balanced nBuckets
    * whatever its value distribution ("range-partition every segment's
    * shard of 100 TB into balanced files" with one grouped sketch +
    * one scan). Output: non-null-`valueCol` rows of `df` + `bucket`. */
  def qsketchRangeBucketsGrouped(df: DataFrame, groupCol: String,
                                 rowKey: Column, valueCol: String,
                                 k: Int, nBuckets: Int): DataFrame =
    rangeBucketsGrouped(df, groupCol, rowKey, valueCol, k, nBuckets)._1

  /** [[qsketchRangeBucketsGrouped]] and whether its cut table fit. */
  private[operators] def rangeBucketsGrouped(df: DataFrame,
      groupCol: String, rowKey: Column, valueCol: String, k: Int,
      nBuckets: Int): (DataFrame, Boolean) = {
    require(nBuckets > 1, s"nBuckets must exceed 1, got $nBuckets")
    val nn = df.where(col(valueCol).isNotNull)
    // ROW-CAPPED broadcast: at high group cardinality an unconditional
    // hint ships a driver-killing table (1.6M groups ≈ 100+ MB of cut
    // arrays); over the cap the planner is left free — a shuffled join
    // on the group key, the same decision the sums join makes.
    val (cuts, small) =
      groupedCutTable(nn, groupCol, rowKey, valueCol, k, nBuckets)
    val cutsH = if (small) broadcast(cuts) else cuts
    (nn.join(cutsH, nn(groupCol) === cutsH("__g"))
      .withColumn("bucket", aggregate(col("__cuts"), lit(0),
        (acc, c) => acc +
          when(col(valueCol).cast("double") > c, 1).otherwise(0)))
      .drop("__g", "__cuts"), small)
  }

  /** Per-group [[exactQuantilesSelect]] — exact `quantile_cont` per
    * segment without a global sort or per-group full buffers: per-group
    * sketch cutpoints lane each group's domain (one bounded-buffer
    * pass), per-(group, lane) counts locate every target rank on the
    * driver (|groups|·nBuckets longs — the caller bounds |groups| via
    * `maxGroups`), and ONE candidate scan fetches only the lanes
    * holding a target rank, ranked by a per-lane window over that
    * slice. "Exact p99 per segment over 100 TB" in three scans.
    * Output: (groupCol, prob, exact_q), group type preserved. The
    * group column must pass [[BoundedCollect.groupsByValue]]. */
  def exactQuantilesSelectGrouped(df: DataFrame, groupCol: String,
                                  rowKey: Column, valueCol: String,
                                  probs: Seq[(String, Double)],
                                  k: Int = 1024, nBuckets: Int = 64,
                                  maxGroups: Int = 10000): DataFrame = {
    require(nBuckets > 1, s"nBuckets must exceed 1, got $nBuckets")
    val site = "Analytics.exactQuantilesSelectGrouped"
    val gType = df.schema(groupCol).dataType
    require(BoundedCollect.groupsByValue(gType), s"$site: the driver cannot " +
      s"group '$groupCol' (${gType.simpleString}) by value — cast it to string")
    val spark = df.sparkSession
    val nn = df.where(col(valueCol).isNotNull)
    val (cuts, _) =
      groupedCutTable(nn, groupCol, rowKey, valueCol, k, nBuckets)
    // same two-reader pin as the ungrouped form: lane counts and the
    // candidate fetch both collect, so the (group, v, bucket) slim
    // frame would otherwise compute twice
    val bucketed = Checkpoints.pin(nn
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("v"))
      .join(broadcast(cuts), Seq("__g"))
      .withColumn("bucket", aggregate(col("__cuts"), lit(0),
        (acc, c) => acc + when(col("v") > c, 1).otherwise(0)))
      .select("__g", "v", "bucket"))
    val hint = "raise maxGroups or pre-aggregate"
    val laneCounts: Map[(Any, Int), Long] = BoundedCollect.orFail(
        bucketed.groupBy("__g", "bucket").count(),
        maxGroups.toLong * nBuckets, site, "(group, lane) counts", hint)
      .map(r => ((r.get(0), r.getInt(1)), r.getLong(2))).toMap
    val groups = laneCounts.keys.map(_._1).toSeq.distinct
    require(groups.size <= maxGroups,
      s"$site: more than $maxGroups groups — $hint")
    // per group: cumulative lane offsets + the EXACT 1-based local
    // ranks needed per (group, lane) — O(#probs) entries per group
    case class Need(g: Any, lane: Int, ranks: Seq[Int])
    val plans = groups.map { g =>
      val cum = (0 until nBuckets).scanLeft(0L) { (acc, b) =>
        acc + laneCounts.getOrElse((g, b), 0L)
      }
      val n = cum(nBuckets)
      val targets = probs.flatMap { case (_, p) =>
        val h = p * (n - 1)
        Seq(math.floor(h).toLong, math.ceil(h).toLong)
      }.distinct
      def laneOf(rank: Long): Int =
        (0 until nBuckets).find(i => cum(i + 1) > rank).get
      val needs = targets.groupBy(laneOf).map { case (b, rs) =>
        Need(g, b, rs.map(r => (r - cum(b)).toInt + 1).distinct)
      }.toSeq
      (g, n, cum, needs)
    }
    // driver-literal rows (round 20): an RDD-backed frame here costs a
    // job to build its broadcast; a LocalRelation broadcast builds
    // driver-side with none
    val needDf = broadcast(spark.createDataFrame(
      {
        import scala.jdk.CollectionConverters._
        plans.flatMap(_._4).map(nd =>
          org.apache.spark.sql.Row(nd.g, nd.lane, nd.ranks)).asJava
      },
      org.apache.spark.sql.types.StructType(Seq(
        df.schema(groupCol).copy(name = "__g"),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__ranks",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType, containsNull = false),
          nullable = false)))))
    // the per-lane window still ranks the candidate lanes executor-side
    // (unavoidable — rank needs the lane), but only the floor/ceil
    // target rows cross to the driver: O(|groups|·#probs) rows, never
    // a lane prefix (round-13 perf-weak finding)
    val fetched: Map[(Any, Int, Int), Double] =
      bucketed.join(needDf, Seq("__g", "bucket"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__g", "bucket").orderBy("v")))
      .where(array_contains(col("__ranks"), col("__rn")))
      .select("__g", "bucket", "__rn", "v")
      .collect()
      .map(r => ((r.get(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
      .toMap
    val outRows = plans.flatMap { case (g, n, cum, _) =>
      def laneOf(rank: Long): Int =
        (0 until nBuckets).find(i => cum(i + 1) > rank).get
      def at(rank: Long): Double = {
        val b = laneOf(rank)
        fetched((g, b, (rank - cum(b)).toInt + 1))
      }
      probs.map { case (label, p) =>
        val h = p * (n - 1)
        val (lo, hi) = (at(math.floor(h).toLong), at(math.ceil(h).toLong))
        val gfrac = h - math.floor(h)
        org.apache.spark.sql.Row(g, label, lo + (hi - lo) * gfrac)
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(outRows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        df.schema(groupCol),
        org.apache.spark.sql.types.StructField("prob",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("exact_q",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Per-group quantile read-off over a [[qsketchSampleGrouped]]: the
    * same deterministic lower-index rule as [[qsketchQuantiles]],
    * windowed per group — the window runs on ≤ k rows per group by
    * construction. Output: groupCols + (prob, est_q). */
  def qsketchQuantilesGrouped(sample: DataFrame, groupCols: Seq[String],
                              probs: Seq[(String, Double)]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
    val ranked = sample
      .withColumn("rn", row_number().over(w.orderBy("v", "h")))
      .withColumn("n", count(lit(1)).over(w))
    val spark = sample.sparkSession
    import spark.implicits._
    broadcast(probs.toDF("prob", "p")).join(ranked,
        col("rn") === floor(col("p") * (col("n") - 1)) + 1)
      .select(groupCols.map(col) ++
        Seq(col("prob"), col("v").as("est_q")): _*)
  }
}
