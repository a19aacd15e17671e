package graft.operators

import org.apache.spark.sql.DataFrame

/** The one place the engine materializes a frame, with one entry
  * point per pin kind: [[pin]] (unconditional), [[pinIfLarge]] (only
  * when the input outprices the pin job), [[pinIfLargeKeyed]] (the
  * same, hash-partitioned by a loop key) and [[Rolling]] (the
  * per-round pin of an iterative loop, holding one round's blocks).
  *
  * Each takes `checkpointDir: Option[String] = None`. `None` is the
  * SESSION DEFAULT: reliable `checkpoint()` when the session has a
  * checkpoint dir (`sc.setCheckpointDir`, set once by a production
  * application), else `localCheckpoint()` (dev/local, no disk
  * round-trip). `Some(dir)` asks for a reliable `checkpoint()` into
  * `dir`; the checkpoint dir is GLOBAL `SparkContext` state, so a dir
  * the session already has wins, and otherwise `dir` is set only while
  * this pin runs — an operator argument never becomes the default of
  * every later pin in the session. Reliable checkpoints survive
  * executor loss: at the 100 TB target a corpus-sized local block has
  * no lineage to recover it. Both kinds are EAGER, so a pinned frame
  * costs exactly one job at call time (explain-only workflows pay real
  * execution) and every downstream scan replays the materialized
  * blocks.
  *
  * Lifecycle in long-lived sessions: reliable-checkpoint FILES are
  * never deleted by default (set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, or manage
  * the dir's retention externally); local BLOCKS are freed by the
  * ContextCleaner once the pinned frame is unreachable on the driver,
  * and at once for each superseded round of a [[Rolling]] pin.
  */
object Checkpoints {

  /** Pin `df` eagerly: reliable `checkpoint()` when the session has a
    * checkpoint dir or `checkpointDir` names one, else
    * `localCheckpoint()`. */
  def pin(df: DataFrame, checkpointDir: Option[String] = None): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined) df.checkpoint()
    else checkpointDir match {
      case Some(dir) =>
        sc.setCheckpointDir(dir)
        try df.checkpoint() finally sc.setCheckpointDir(null)
      case None => df.localCheckpoint()
    }
  }

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
  def pinIfLarge(df: DataFrame,
                 checkpointDir: Option[String] = None): DataFrame =
    if (isLarge(df)) pin(df, checkpointDir) else df

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
                      checkpointDir: Option[String] = None): DataFrame =
    if (isLarge(df)) pin(df.repartition(key), checkpointDir) else df

  /** A ROLLING PIN for an iterative loop that pins a new frame every
    * round (a fixpoint, a peel, a merge step). Each call pins the new
    * frame first and only then releases the roll's previous pin, so the
    * loop holds one round's blocks instead of accumulating every
    * round's until a driver GC notices. Only frames this roll pinned
    * are ever released — never a loop invariant the rounds still read;
    * the caller must not keep a frame over a superseded round alive. */
  final class Rolling(checkpointDir: Option[String] = None) {
    private var last: Option[DataFrame] = None

    /** Pin `df`, then release the previous pin of this roll. */
    def apply(df: DataFrame): DataFrame = {
      val next = pin(df, checkpointDir)
      close()
      last = Some(next)
      next
    }

    /** Release the current pin (for loops whose result does not read
      * it). */
    def close(): Unit = { last.foreach(release); last = None }
  }

  /** Release the storage blocks behind a previously [[pin]]ned frame.
    * Walks the frame's logical plan for the `LogicalRDD` leaves a
    * checkpoint produces and unpersists their RDDs (no-op for frames
    * that were never pinned or already released; blocking=false — a
    * loop must not stall on block removal). Reliable-checkpoint FILES
    * are not deleted — only
    * `spark.cleaner.referenceTracking.cleanCheckpoints` governs those;
    * this releases the block-manager copies.
    *
    * No live frame may still reference the released pin: an action on
    * such a frame afterwards fails for a `localCheckpoint` pin, whose
    * blocks have no lineage to recompute them from. Loops release
    * through [[Rolling]], which keeps that precondition. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
