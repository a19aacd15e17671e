package graft.operators

import org.apache.spark.sql.DataFrame

/** The one lineage-truncation dual every iterative / multi-scan
  * operator shares: RELIABLE `checkpoint()` into an HDFS/object-store
  * directory when the caller supplies one (survives executor loss — at
  * the 100 TB target a corpus-sized `localCheckpoint` block has no
  * lineage to recover it, so one lost executor kills the job), and
  * `localCheckpoint()` when it doesn't (dev/local — no disk
  * round-trip). Both are EAGER, so a pinned frame costs exactly one
  * job and every downstream scan replays the materialized blocks.
  *
  * The session checkpoint directory is GLOBAL state
  * (`SparkContext.setCheckpointDir`), so this helper only sets it when
  * none is configured yet: a caller-supplied dir must not silently
  * clobber a directory the application (or an enclosing operator on
  * the same session) already configured — when one is set, it wins and
  * the reliable checkpoint lands there.
  *
  * LIFECYCLE NOTES for long-lived sessions (round-19 advisory):
  *   - a pin is EAGER — operator construction executes the upstream
  *     stages at call time (explain-only workflows pay real execution);
  *   - reliable-checkpoint FILES are never deleted by default — a
  *     production session should set
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
  *     checkpoint data of GC'd RDDs is removed, or manage the dir's
  *     retention externally;
  *   - `localCheckpoint` BLOCKS are freed by the ContextCleaner once
  *     the pinned frame becomes unreachable on the driver; iterative
  *     loops that supersede pins every round release them promptly via
  *     [[release]] instead of waiting for a driver GC.
  */
object Checkpoints {

  /** Pin `df` eagerly: reliable `checkpoint()` when `checkpointDir` is
    * set (or the session already has a checkpoint dir), else
    * `localCheckpoint()`. */
  def pin(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** SESSION-DEFAULT pin (round 19): reliable `checkpoint()` when the
    * session already has a checkpoint directory configured, else
    * `localCheckpoint()`. Query-composition glue (the capstone
    * pipelines, shared edge lists, cleaned-corpus pins) pins through
    * this so a production session that calls `sc.setCheckpointDir(...)`
    * ONCE gets durable pins in every composed pipeline, without
    * threading a dir parameter through each query definition — the
    * operator-level overload above remains for callers that manage the
    * dir explicitly. */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** Input-bytes threshold above which [[pinIfLarge]] actually pins.
    * An eager pin is one full extra JOB (scheduling + block
    * materialization) — a FIXED cost that the recompute it saves must
    * outprice. The recompute grows with input bytes; the job constant
    * does not. Round-20 paired in-suite A/B at sf0.1 located the
    * crossover empirically: pins over the 50 MB trade-edge blocks WIN
    * (graph_pagerank 4.56 s pinned vs 5.20 s unpinned, graph_ppr 3.07
    * vs 3.57 at matched calibration), pins over the 594 KB documents
    * base LOSE (dedup_exact_substr_min 4.96 pinned vs 4.68 unpinned) —
    * so the pin is gated on the free leaf-input-bytes statistic
    * ([[ScanWidth.leafInputBytes]], the [[graft.textanalysis
    * .TextAnalysis.MinimizedChainAboveBytes]] precedent) at 32 MB,
    * between the measured win and loss regimes: below it a cold
    * re-derive of the input costs about what one extra job dispatch
    * does, above it the (readers−1) saved re-derives dominate.
    * Override per session with `spark.graft.pin.aboveBytes` (ops knob
    * for clusters whose job round-trip is priced differently); the
    * default keeps dev/bench behavior input-adaptive, not host-tuned. */
  val PinAboveBytes: Long = 32L << 20

  private def pinThreshold(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.pin.aboveBytes")
      .map(v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"spark.graft.pin.aboveBytes must be a whole number of bytes, got '$v'")))
      .getOrElse(PinAboveBytes)

  /** Whether `df`'s leaf input reaches the pin threshold. The threshold
    * is read first, so a malformed key fails for every frame, not only
    * for frames with file leaves. */
  private def isLarge(df: DataFrame): Boolean = {
    val threshold = pinThreshold(df)
    ScanWidth.leafInputBytes(df).forall(_ >= threshold)
  }

  /** [[pin]] gated on input size: pins only when the frame's leaf
    * input is at least [[PinAboveBytes]] (or the plan has non-file
    * leaves — an already-pinned/in-memory parent, where no trustworthy
    * byte statistic exists and LARGE is the scale-safe default: a
    * wrong guess there costs one bounded pin job, never a corpus-sized
    * recompute). For multi-reader LOOP-INVARIANT frames whose
    * recompute is an ordinary re-scan — deduped edge lists, node sets,
    * the slim substr base — this restores the unpinned plan exactly
    * where recompute is cheaper than materialization. Sites whose
    * recompute is NOT scan-priced (an exploded gram stream, a digest
    * pass) keep the unconditional [[pin]]. */
  def pinIfLarge(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    if (isLarge(df)) pin(df, checkpointDir) else df

  /** Session-default `pinIfLarge` (the one-arg `pin`'s conditional
    * twin). */
  def pinIfLarge(df: DataFrame): DataFrame =
    if (isLarge(df)) pin(df) else df

  /** [[pinIfLarge]] with the pinned frame HASH-PARTITIONED by `key`
    * first — for loop-invariant frames an unrolled iteration re-joins
    * on the same key every round: `Dataset.checkpoint` preserves the
    * physical output partitioning into the `LogicalRDD`, so one
    * exchange at pin time replaces one per iteration (guide §2.4 —
    * two operations keyed the same way share one exchange;
    * ScaleRehearsal6 measured the 3-iteration PageRank recurrence at
    * 1.5M edges 5.6 → 3.5 s with this). When the probe says small,
    * the frame stays un-pinned AND un-repartitioned — the extra
    * exchange only pays for itself when the per-iteration joins
    * actually shuffle. */
  def pinIfLargeKeyed(df: DataFrame, key: org.apache.spark.sql.Column,
                      checkpointDir: Option[String]): DataFrame =
    if (isLarge(df)) pin(df.repartition(key), checkpointDir) else df

  /** Release the storage blocks behind a previously [[pin]]ned frame —
    * the iterative-loop hygiene the round-19 verdict asked for: a peel
    * / fixpoint loop pins a NEW frame every round and the superseded
    * rounds' blocks otherwise accumulate until driver GC notices
    * (unbounded by design over a long session). Walks the frame's
    * logical plan for the `LogicalRDD` leaves a checkpoint produces
    * and unpersists their RDDs (no-op for frames that were never
    * pinned or already released; blocking=false — the loop must not
    * stall on block removal). Reliable-checkpoint FILES are not
    * deleted — only `spark.cleaner.referenceTracking.cleanCheckpoints`
    * governs those; this releases the block-manager copies.
    *
    * No live frame may still reference the released pin: an action on
    * such a frame afterwards fails for a `localCheckpoint` pin, whose
    * blocks have no lineage to recompute them from. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
