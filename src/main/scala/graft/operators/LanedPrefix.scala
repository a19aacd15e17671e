package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

/** The two-level distributed prefix sum over a VALUE-ordered domain —
  * the shape [[KsDrift]], [[RankNormalize]], and [[Auc]] all share
  * (and [[BucketedPrefixSum]] pioneered for dense integer ids): lane
  * the distinct-value rows by equi-depth sketch cuts
  * ([[Analytics.qsketchRangeBuckets]] — pure-map assignment off
  * broadcast literals, lanes respect value order), run the per-lane
  * window prefix (bounded by the lane), and add an exclusive
  * cross-lane offset read off the ≤ nLanes-row per-lane totals.
  *
  * FUSED ACTIONS (round 20, guide §1.2 — per-gate job count): the
  * per-lane totals are ≤ nLanes rows (≤ |groups|·nLanes grouped), so
  * instead of materializing them cluster-side (an eager checkpoint
  * job) and deriving offsets/grand totals through windows plus TWO
  * broadcast-build jobs, ONE driver collect fetches them and the
  * exclusive prefix / grand totals are computed on the driver into
  * literal (LocalRelation) frames — broadcast of a LocalRelation
  * builds driver-side with no job. Arithmetic is the same exact
  * long/decimal addition the window ran; JobAudit: agg_gini-family
  * gates drop 2-4 jobs each. The grouped form keeps the round-14
  * OVER-CAP contract: when the grouped cut table has more than
  * [[BroadcastRowCap]] / nLanes groups (known from the cut table's own
  * bounded collect, no extra job), it falls back to the
  * materialized-frame window path with no broadcast hint — the
  * planner-free shape that scales to any group cardinality.
  *
  * TWO BRANCHES for the ungrouped form ([[withPrefix]]), chosen off one
  * bounded fetch of the pinned domain, already sorted by one task
  * (`coalesce(1).sortWithinPartitions`: one job, no exchange, Spark's
  * own null-first / NaN / decimal order). At or under
  * [[BroadcastRowCap]] distinct values the running sums are computed on
  * the driver and both outputs are literal frames — the whole domain is
  * one lane, `bucket` 0 — with the laned branch's column names and
  * types. `RankNormalize`/`KsDrift.ks` at spec scale: 6 jobs, from 11;
  * `scalar_rank_pct` cold at sf0.01: 8, from 13. Over the cap the
  * sketch/sums/window path below runs over the same pin, after the one
  * fetch of `cap + 1` rows. Driver heap at the cap (2M distinct values,
  * JDK 17, Spark 4.1, local[4], after a full GC): the literal frames
  * retain ~70 MB more than the laned branch for one count column and
  * ~120 MB for two. Time at the cap: one sum over the literal output
  * took 6.5–6.7 s against 2.3–2.4 s over the laned one, the whole call
  * 10.6 s against 7.1 s, so near the cap the driver branch is the slower
  * one (about even at 1M values; at 200k, 1.7 s against 4.6 s).
  *
  * Input: `vals` with one row per DISTINCT `orderCol` value and long
  * `sumCols` counts. Output: (`vals` + a `<c>_cum` prefix column per
  * sum column — inclusive or exclusive of the current row — plus a
  * lane `bucket`, and a broadcastable 1-row totals frame with
  * `<c>_tot` columns). Never a one-task window over the data. */
object LanedPrefix {

  /** Exact driver-side addition over the JVM values a collected sum
    * column carries (long counts, decimal(38,0) value sums) — null
    * skips, mirroring `sum`'s null handling. */
  private def addAny(a: Any, b: Any): Any = (a, b) match {
    case (null, x) => x
    case (x, null) => x
    case (x: java.lang.Long, y: java.lang.Long) =>
      java.lang.Long.valueOf(x.longValue + y.longValue)
    case (x: java.lang.Integer, y: java.lang.Integer) =>
      java.lang.Integer.valueOf(x.intValue + y.intValue)
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.valueOf(x.doubleValue + y.doubleValue)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    case (x, y) => throw new IllegalArgumentException(
      s"unsupported sum value pair: ${x.getClass} + ${y.getClass}")
  }

  /** The typed zero `coalesce(sum(...) OVER ..., 0)` produced for an
    * empty exclusive window. */
  private def zeroOf(dt: DataType): Any = dt match {
    case LongType => java.lang.Long.valueOf(0L)
    case IntegerType => java.lang.Integer.valueOf(0)
    case DoubleType => java.lang.Double.valueOf(0.0)
    case _: DecimalType => java.math.BigDecimal.ZERO
    case other => throw new IllegalArgumentException(
      s"unsupported sum type $other")
  }

  private def localFrame(spark: SparkSession, rows: Seq[Row],
                         schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The laned `<c>_cum` formula: the in-lane running sum (null over an
    * empty exclusive window) plus the lane's offset. The driver branch
    * reads its output types off the same formula over plain sums. */
  private def cumOf(inLane: Column, offset: Column): Column =
    coalesce(inLane, lit(0L)) + offset

  /** A collected sum-column value as the JVM type its `sum` has: ints
    * widen to long and floats to double, as `sum` widens them. */
  private def asSumType(v: Any, dt: DataType): Any = (v, dt) match {
    case (n: java.lang.Number, LongType) => java.lang.Long.valueOf(n.longValue)
    case (n: java.lang.Number, DoubleType) =>
      java.lang.Double.valueOf(n.doubleValue)
    case _ => v
  }

  def withPrefix(vals: DataFrame, orderCol: String,
                 sumCols: Seq[String], k: Int, nLanes: Int,
                 inclusive: Boolean): (DataFrame, DataFrame) = {
    require(sumCols.nonEmpty, "at least one sum column")
    // pin the distinct-value table ONCE (round 19, guide §2.4): the
    // driver fetch below, and over the cap the sketch collect, the lane
    // sums collect and the final laned output, are SEPARATE executions
    // — exchange reuse cannot span them, and without the pin each
    // recomputes the upstream corpus scan plus the distinct-collapse
    // shuffle. The pinned frame is value-domain-sized (one row per
    // distinct value), the bounded side of the operator at any corpus
    // scale.
    val pinned = Checkpoints.pin(vals)
    // one task sorts the pin (no exchange), so nulls, NaN and decimals
    // come in the order the laned window gives them
    BoundedCollect(pinned.coalesce(1).sortWithinPartitions(orderCol),
        broadcastRowCap) match {
      case Some(sorted) => driverPrefix(pinned, sorted, sumCols, inclusive)
      case None => lanedPrefix(pinned, orderCol, sumCols, k, nLanes, inclusive)
    }
  }

  /** [[withPrefix]] under the cap: the running sums over the value-sorted
    * domain, computed on the driver into literal frames. The whole
    * domain is one lane (`bucket` 0), and every column has the laned
    * branch's name and type. */
  private def driverPrefix(pinned: DataFrame, sorted: Array[Row],
                           sumCols: Seq[String],
                           inclusive: Boolean): (DataFrame, DataFrame) = {
    // analysis only, no job: the totals' and prefixes' types as the
    // laned branch's formulas give them (an int column sums to long, a
    // decimal(p, s) prefix widens past its sum's type)
    val types = pinned.select(sumCols.map(c => sum(c).as(s"${c}_tot")) ++
      sumCols.map(c => cumOf(sum(c), sum(c)).as(s"${c}_cum")): _*).schema
    val (totFields, cumFields) = types.fields.splitAt(sumCols.size)
    val tTypes = totFields.map(_.dataType)
    val idx = sumCols.map(pinned.schema.fieldIndex)
    val acc = Array.fill[Any](sumCols.size)(null)
    def add(r: Row): Unit = sumCols.indices.foreach(i =>
      acc(i) = addAny(acc(i), asSumType(r.get(idx(i)), tTypes(i))))
    val rows = sorted.map { r =>
      if (inclusive) add(r)
      val cum = sumCols.indices.map(i =>
        if (acc(i) == null) zeroOf(tTypes(i)) else acc(i))
      if (!inclusive) add(r)
      Row.fromSeq((0 +: r.toSeq) ++ cum)
    }
    val outSchema = StructType(StructField("bucket", IntegerType,
      nullable = false) +: (pinned.schema.fields ++ cumFields))
    val spark = pinned.sparkSession
    // one row even over empty input (nulls), matching agg-over-empty
    (localFrame(spark, rows.toSeq, outSchema),
      localFrame(spark, Seq(Row.fromSeq(acc.toSeq)), StructType(totFields)))
  }

  /** [[withPrefix]] over the cap: lane by sketch cuts, window each lane,
    * and add the cross-lane offsets read off the per-lane totals. */
  private def lanedPrefix(pinned: DataFrame, orderCol: String,
                          sumCols: Seq[String], k: Int, nLanes: Int,
                          inclusive: Boolean): (DataFrame, DataFrame) = {
    val laned = Analytics.qsketchRangeBuckets(pinned,
      col(orderCol), orderCol, k, nLanes)
    val hi = if (inclusive) 0L else -1L
    val wIn = Window.partitionBy("bucket").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, hi)
    val sumsDf = laned.groupBy("bucket")
      .agg(sum(sumCols.head).as(s"__t_${sumCols.head}"),
        sumCols.tail.map(c => sum(c).as(s"__t_$c")): _*)
    // ≤ nLanes rows by construction: ONE collect feeds offsets AND
    // grand totals, both computed driver-side into literal frames
    val sumRows = sumsDf.collect().sortBy(_.getInt(0))
    val spark = pinned.sparkSession
    val tTypes = sumCols.map(c => sumsDf.schema(s"__t_$c").dataType)
    val offSchema = StructType(sumsDf.schema("bucket") +:
      sumCols.zip(tTypes).map { case (c, t) =>
        StructField(s"__off_$c", t, nullable = true) })
    val offRows = {
      val acc = scala.collection.mutable.ArrayBuffer
        .fill[Any](sumCols.size)(null)
      sumRows.map { r =>
        val out = Row.fromSeq(r.get(0) +: sumCols.indices.map(i =>
          if (acc(i) == null) zeroOf(tTypes(i)) else acc(i)))
        sumCols.indices.foreach(i => acc(i) = addAny(acc(i), r.get(i + 1)))
        out
      }.toSeq
    }
    val offsets = localFrame(spark, offRows, offSchema)
    val totSchema = StructType(sumCols.zip(tTypes).map { case (c, t) =>
      StructField(s"${c}_tot", t, nullable = true) })
    // one row even over empty input (nulls), matching agg-over-empty
    val totRow = Row.fromSeq(sumCols.indices.map(i =>
      sumRows.foldLeft(null: Any)((a, r) => addAny(a, r.get(i + 1)))))
    val totals = localFrame(spark, Seq(totRow), totSchema)
    val out = sumCols.foldLeft(
        laned.join(broadcast(offsets), Seq("bucket"))) { (df, c) =>
      df.withColumn(s"${c}_cum", cumOf(sum(c).over(wIn), col(s"__off_$c")))
    }.drop(sumCols.map(c => s"__off_$c"): _*)
    (out, totals)
  }

  /** Per-group [[withPrefix]] — the partition-key extension behind
    * grouped AUC/Gini/KS: each group's distinct-value rows lane by the
    * group's OWN equi-depth cuts ([[Analytics.qsketchRangeBucketsGrouped]]
    * — a broadcast cut-table join + pure map, never a per-group CASE),
    * the in-lane window partitions by (group, lane), and the cross-lane
    * offsets come off the |groups|·nLanes per-(group,lane) totals —
    * driver-computed literals under [[BroadcastRowCap]] cells, a
    * group-partitioned window over the materialized frame beyond it —
    * so the shape scales in BOTH the group count and the per-group
    * domain size.
    *
    * Input: one row per DISTINCT (`groupCol`, `orderCol`) pair with long
    * `sumCols` counts; null groups are dropped (the cut-table join is an
    * equi-join). Output: (`vals` + `<c>_cum` prefix per sum column +
    * lane `bucket`, and a per-group totals frame keyed by `groupCol`
    * with `<c>_tot` columns — join it back on the group AS RETURNED:
    * it is a broadcastable literal exactly when the cut table has at
    * most [[BroadcastRowCap]] / nLanes groups, and is
    * left to the planner beyond, keeping the shape valid at any group
    * cardinality without shuffling the data-sized frame in the common
    * small-|groups| regime). */
  def withPrefixGrouped(vals: DataFrame, groupCol: String, orderCol: String,
                        sumCols: Seq[String], k: Int, nLanes: Int,
                        inclusive: Boolean): (DataFrame, DataFrame) = {
    require(sumCols.nonEmpty, "at least one sum column")
    // the grouped cut-table helper owns these internal names and drops
    // them from its output — a caller column with either name would be
    // silently dropped with them
    require(groupCol != "__g" && groupCol != "__cuts",
      s"'$groupCol' collides with qsketchRangeBucketsGrouped internals")
    // same single-pin rationale as withPrefix: the grouped cut table
    // (driver-collected sketch), the (group, lane) sums collect and
    // the final laned output are separate executions that would each
    // recompute the distinct-(group, value) collapse
    val pinned = Checkpoints.pin(vals)
    val (laned, cutsFit) = Analytics.rangeBucketsGrouped(pinned, groupCol,
      col(orderCol), orderCol, k, nLanes)
    val hi = if (inclusive) 0L else -1L
    val wIn = Window.partitionBy(groupCol, "bucket").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, hi)
    val sumsDf = laned.groupBy(groupCol, "bucket")
      .agg(sum(sumCols.head).as(s"__t_${sumCols.head}"),
        sumCols.tail.map(c => sum(c).as(s"__t_$c")): _*)
    // A cut table that fit bounds the (group, lane) sums by
    // BroadcastRowCap rows: ONE plain collect fetches them into literal
    // offsets and totals that broadcast with no job. Otherwise, or when
    // the driver cannot group the key by value, the sums are pinned and
    // windowed and the joins left to the planner: no driver fetch.
    val (offsets, totals) =
      if (cutsFit &&
          BoundedCollect.groupsByValue(sumsDf.schema(groupCol).dataType)) {
        val tTypes = sumCols.map(c => sumsDf.schema(s"__t_$c").dataType)
        val offSchema = StructType(sumsDf.schema(groupCol) +:
          sumsDf.schema("bucket") +:
          sumCols.zip(tTypes).map { case (c, t) =>
            StructField(s"__off_$c", t, nullable = true) })
        val totSchema = StructType(sumsDf.schema(groupCol).copy(
          name = groupCol) +:
          sumCols.zip(tTypes).map { case (c, t) =>
            StructField(s"${c}_tot", t, nullable = true) })
        val offRows = scala.collection.mutable.ArrayBuffer.empty[Row]
        val totRows = scala.collection.mutable.ArrayBuffer.empty[Row]
        sumsDf.collect().groupBy(_.get(0)).foreach { case (g, rows) =>
          val acc = scala.collection.mutable.ArrayBuffer
            .fill[Any](sumCols.size)(null)
          rows.sortBy(_.getInt(1)).foreach { r =>
            offRows += Row.fromSeq(g +: r.get(1) +:
              sumCols.indices.map(i =>
                if (acc(i) == null) zeroOf(tTypes(i)) else acc(i)))
            sumCols.indices.foreach(i =>
              acc(i) = addAny(acc(i), r.get(i + 2)))
          }
          totRows += Row.fromSeq(g +: sumCols.indices.map(acc(_)))
        }
        // the totals keep their broadcast hint (callers join the frame
        // back AS RETURNED): a near-cap literal can exceed the
        // auto-broadcast threshold and would otherwise shuffle the
        // caller's data-sized side
        (broadcast(localFrame(vals.sparkSession, offRows.toSeq, offSchema)),
          broadcast(localFrame(vals.sparkSession, totRows.toSeq, totSchema)))
      } else {
        val wAcross = Window.partitionBy(groupCol).orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)
        val sums = Checkpoints.pin(sumsDf)
        val offs = sumCols.foldLeft(sums) { (df, c) =>
          df.withColumn(s"__off_$c",
            coalesce(sum(s"__t_$c").over(wAcross), lit(0L)))
        }.select(col(groupCol) +: col("bucket") +:
          sumCols.map(c => col(s"__off_$c")): _*)
        (offs, sums.groupBy(groupCol).agg(
          sum(s"__t_${sumCols.head}").as(s"${sumCols.head}_tot"),
          sumCols.tail.map(c => sum(s"__t_$c").as(s"${c}_tot")): _*))
      }
    val out = sumCols.foldLeft(
        laned.join(offsets, Seq(groupCol, "bucket"))) { (df, c) =>
      df.withColumn(s"${c}_cum", cumOf(sum(c).over(wIn), col(s"__off_$c")))
    }.drop(sumCols.map(c => s"__off_$c"): _*)
    (out, totals)
  }

  /** Max cells the laned prefix will fetch to the driver and re-ship
    * as literals — ~2M rows of (key, lane, k longs) is tens of MB,
    * comfortably driver/executor-safe (the same bytes the pre-fusion
    * broadcast hint shipped). The ungrouped form spends it as distinct
    * values; the grouped cut table as BroadcastRowCap / nLanes groups.
    * More fall back to the laned windows or the planner's choice. */
  val BroadcastRowCap: Long = 2000000L

  /** The cap actually consulted — test-overridable so the over-cap
    * paths run at spec scale without 2M real values or groups: the
    * ungrouped laned windows (`LanedPrefixDriverSpec`) and the grouped
    * fallback (no driver fetch; the planner picks, typically a
    * sort-merge join on (group, lane); `LanedPrefixFallbackSpec`).
    * Production never touches this. */
  @volatile private[graft] var broadcastRowCap: Long = BroadcastRowCap

  /** Run `body` with the broadcast cap forced to `cap` (test hook). */
  private[graft] def withBroadcastRowCap[A](cap: Long)(body: => A): A = {
    val prev = broadcastRowCap
    broadcastRowCap = cap
    try body finally broadcastRowCap = prev
  }
}
