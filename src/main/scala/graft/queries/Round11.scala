package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Md5Prefix
import graft.operators.Analytics
import graft.similarity.{ProductQuantizer, Similarity}

/** Round-11 gates. Each Spark query here has a DuckDB oracle generated
  * from the same constants, like [[Round10]]. */
object Round11 extends GateBatch {

  /** PQ multi-iteration training constants. Training runs on a
    * deterministic quarter-sample of the corpus (`vec_id % TrainMod ==
    * 0`) — the standard PQ practice: codebook quality saturates on a
    * sample, so the Lloyd passes cost O(sample), not O(corpus),
    * however wide the encoded table grows. */
  /** Quantile-sketch constants: sample size and the probed quantiles
    * (label, p) — labels are strings so the dump schema is
    * engine-neutral (DuckDB VALUES literals would land DECIMAL). */
  private val QsK = 1024
  private val QsShards = 4
  private val QsGroupK = 256
  private val QsStreamK = 256
  private val EqBuckets = 8
  private val QsProbs = Seq("0.10" -> 0.10, "0.50" -> 0.50,
    "0.90" -> 0.90, "0.99" -> 0.99)

  private val PqM = 8
  private val PqKsub = 16
  private val PqIters = 3
  private val PqTrainMod = 4L
  private val PqCandidates = 600
  private val PqK = 10

  val defs: Map[String, Q] = Map(

    // PQ retrieval with CONVERGED codebooks: three Lloyd iterations per
    // subspace (vs the single-pass sim_ann_pq), trained on a
    // deterministic sample so the iteration cost is bounded by the
    // sample however large the corpus. fit()'s per-iteration driver
    // collect of the m·ksub·subDim codebook IS the lineage truncation
    // (each pass re-roots the plan at the subvector scan with literal
    // codebooks — nothing accumulates), so the converged model replays
    // bit-identically; with 600-candidate headroom retrieval is exact
    // brute-force top-10, the identity the oracle checks
    "sim_ann_pq_iters" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(Similarity.toVec(col("embedding")))
        .head().getSeq[Double](0)
      val model = ProductQuantizer.fit(
        emb.where(col("vec_id") % PqTrainMod === 0),
        "vec_id", "embedding", dim = 64, m = PqM, ksub = PqKsub,
        iters = PqIters)
      val encoded = ProductQuantizer.encode(
        emb, "vec_id", "embedding", model)
      ProductQuantizer.adcRescoreTopK(encoded, emb, "vec_id",
          "embedding", model, qv, candidates = PqCandidates, k = PqK)
        .withColumn("sim", col("sim") + lit(0.0))
    }),

    // REAL audio decode: per doc a deterministic PCM16 fixture encodes
    // through the JVM's own RIFF/WAVE writer, decodes back through
    // javax.sound.sampled (format chunk, endianness, frame boundaries
    // all the codec's), and emits rate / length / integral duration /
    // peak / order-weighted checksum — every integer replayable by the
    // oracle straight from the sample formula, so a sign or endianness
    // mistake in the decoder flips the gate
    "mm_audio_real" -> ((s, dir) =>
      graft.multimodal.Multimodal.audioRoundTrip(
          tbl(s, dir, "documents"), "doc_id")
        .toDF().orderBy("doc_id")),

    // F17 as a verified gate, not just a spec: the dashboard's es-PE
    // currency presentation (`index.html:104-106`) — "S/ " + comma
    // thousands, half-up integer rounding, "–" placeholder for
    // null — recomposed independently by the oracle. Positive prices
    // only hit the half-up==half-away agreement zone of the two
    // engines' round(); a 97-residue slice keeps the dump bounded
    "scalar_currency_pen" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.GraftFunctions.formatCurrency(
            when(col("l_orderkey") % 97 === 0, lit(null))
              .otherwise(col("l_extendedprice"))).as("precio_fmt"))
        .orderBy("l_orderkey", "l_linenumber")),

    // mergeable quantile sketch: bottom-k-by-hash uniform row sample
    // (TakeOrderedAndProject — per-partition bottom-k buffers, one
    // k-row merge, never a global sort), quantiles read off by the
    // deterministic lower-index rule; exact full-scan quantiles ride
    // along for calibration, rel_err quantifies the O(1/√k) rank error
    "agg_qsketch" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      val est = Analytics.qsketchQuantiles(
        Analytics.qsketchSample(li, rowKey, "l_extendedprice", QsK),
        QsProbs)
      // all probes in ONE percentile buffer (array form) — a single
      // scan and a single state merge, not one full agg per probe
      val exact = li
        .agg(percentile(col("l_extendedprice"),
          array(QsProbs.map { case (_, p) => lit(p) }: _*)).as("__qs"))
        .select(posexplode(col("__qs")).as(Seq("__i", "__q")))
        .select(element_at(
            array(QsProbs.map { case (l, _) => lit(l) }: _*),
            col("__i").cast("int") + 1).as("prob"),
          round(col("__q"), 4).as("exact_q"))
      est.join(broadcast(exact), "prob")
        .select(col("prob"), round(col("est_q"), 4).as("est_q"),
          col("exact_q"),
          round(abs(round(col("est_q"), 4) - col("exact_q")) /
            col("exact_q"), 6).as("rel_err"))
        .orderBy("prob")
    }),

    // the sketch's shard-merge contract INSIDE a gate: sample four
    // disjoint shards independently, merge by union-then-keep-k-
    // smallest, and land on the IDENTICAL sample (hence identical
    // quantiles) as sketching the whole table — rows hash globally, so
    // the merge is exact, not approximate: 1000 executors sample their
    // shards and a k-row reduce yields the corpus sample
    "agg_qsketch_merge" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      // all shard bottom-ks in ONE grouped bounded-buffer pass (the
      // same per-lane end state the streaming sketch maintains), not
      // one filtered scan per shard — the merge input costs one scan
      // however many shards partition the corpus
      val shardSamples = graft.streaming.StreamingQsketch
        .qsketchReplayShards(li, pmod(col("l_orderkey"), lit(QsShards)),
          rowKey, "l_extendedprice", QsK)
        .select("h", "v")
      val em = Analytics.qsketchQuantiles(
          Analytics.qsketchMerge(Seq(shardSamples), QsK), QsProbs)
        .withColumnRenamed("est_q", "est_merged")
      val ed = Analytics.qsketchQuantiles(
          Analytics.qsketchSample(li, rowKey, "l_extendedprice", QsK),
          QsProbs)
        .withColumnRenamed("est_q", "est_direct")
      em.join(ed, "prob")
        .select(col("prob"),
          round(col("est_merged"), 4).as("est_merged"),
          round(col("est_direct"), 4).as("est_direct"),
          (round(col("est_merged"), 4) === round(col("est_direct"), 4))
            .as("merge_exact"))
        .orderBy("prob")
    }),

    // GROUPED quantile sketch: per-group bottom-k samples drawn by the
    // custom one-pass TopKPerGroupExec (bounded k-row buffer per group
    // on each side of a single hash exchange — no window sort; h
    // negated because the operator keeps the k LARGEST), quantiles per
    // group by the same lower-index rule; exact per-group quantiles
    // ride along. "p99 per segment over 100 TB" at one scan + k rows
    // per group
    "agg_qsketch_grouped" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      val est = Analytics.qsketchQuantilesGrouped(
        Analytics.qsketchSampleGrouped(
          li.withColumn("g", col("l_returnflag")), Seq("g"),
          rowKey, "l_extendedprice", QsGroupK),
        Seq("g"), QsProbs)
      // one grouped percentile buffer for all probes, then explode
      val exact = li.groupBy(col("l_returnflag").as("g"))
        .agg(percentile(col("l_extendedprice"),
          array(QsProbs.map { case (_, p) => lit(p) }: _*)).as("__qs"))
        .select(col("g"), posexplode(col("__qs")).as(Seq("__i", "__q")))
        .select(col("g"), element_at(
            array(QsProbs.map { case (l, _) => lit(l) }: _*),
            col("__i").cast("int") + 1).as("prob"),
          round(col("__q"), 4).as("exact_q"))
      est.join(exact, Seq("g", "prob"))
        .select(col("g"), col("prob"), round(col("est_q"), 4).as("est_q"),
          col("exact_q"),
          round(abs(round(col("est_q"), 4) - col("exact_q")) /
            col("exact_q"), 6).as("rel_err"))
        .orderBy("g", "prob")
    }),

    // STREAMING quantile sketch, replayed: each shard lane folds an
    // unbounded feed into a k-row bottom-k-by-hash buffer
    // (transformWithState; k·16 bytes of state per lane forever), and
    // the union of lane sketches re-sketches EXACTLY to the corpus
    // sketch — so the gate pins the whole maintenance path: per-shard
    // end states (one bounded-buffer pass, the streaming state's batch
    // twin) -> exact merge -> quantile read-off == the direct
    // single-pass sample, element for element. The streaming processor
    // itself is pinned bit-identical to this replay across micro-batch
    // splits in QsketchSpec
    // EXACT quantiles by sketch-guided selection — the "provably exact
    // p99 at 100 TB" path: sketch cutpoints lane the domain, one
    // aggregating scan counts lanes, the driver locates each target
    // rank's lane (nBuckets longs of state), and only those lanes'
    // rows (~1/nBuckets of the corpus) are fetched and bounded-sorted.
    // Two scans + a lane-sized top-k; never a global sort, never the
    // one-reducer buffer of the exact percentile aggregate. The gate
    // pins the result to DuckDB's full quantile_cont — exactness, not
    // approximation, is what's being verified
    "agg_quantile_exact_select" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      Analytics.exactQuantilesSelect(li, rowKey, "l_extendedprice",
          QsProbs, k = QsK, nBuckets = 64)
        .select(col("prob"), round(col("exact_q"), 4).as("exact_q"))
        .orderBy("prob")
    }),

    // WEIGHTED quantiles from the A-Res sample: inclusion probability
    // proportional to weight means the k-row sample approximates the
    // WEIGHT distribution, so its unweighted order statistics estimate
    // the weighted quantile ("token-weighted doc-length p99") — k rows
    // of state, md5-keyed so the exact sample replays cross-engine.
    // The exact weighted quantile (smallest v with cumulative weight
    // fraction >= p) rides along for calibration
    "agg_qsketch_weighted" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val sample = graft.operators.WeightedTopKSample(
        li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("double").as("v"),
          col("l_quantity").cast("double").as("w")),
        weight = col("w"), k = QsK,
        seedCols = Seq("l_orderkey", "l_linenumber"))
      val est = Analytics.qsketchQuantiles(
        sample.select(Md5Prefix(concat_ws("|",
            col("l_orderkey"), col("l_linenumber")), 15).as("h"), col("v")),
        QsProbs)
      import org.apache.spark.sql.expressions.Window
      val byV = li.groupBy(col("l_extendedprice").cast("double").as("v"))
        .agg(sum(col("l_quantity").cast("double")).as("w"))
      // tot = the LAST cumulative value, not an independent re-sum:
      // both engines then add the same doubles in the same (v) order,
      // so f = cum/tot is bit-identical — an order-varying total could
      // flip a row sitting exactly on a probe boundary
      val frac = byV
        .withColumn("cum", sum("w").over(Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tot", max("cum").over(Window.partitionBy(lit(1))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .select(col("v"), (col("cum") / col("tot")).as("f"))
      // all probes off ONE pass over the cumulative table: conditional
      // mins in a single aggregate, exploded to (prob, exact_wq)
      val aggs = QsProbs.map { case (l, p) =>
        // dots in labels would read as struct access in col()
        min(when(col("f") >= p, col("v"))).as(s"__q${l.replace(".", "_")}")
      }
      val exact = frac.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(QsProbs.map { case (l, _) =>
          struct(lit(l).as("prob"),
            col(s"__q${l.replace(".", "_")}").as("exact_wq"))
        }: _*)).as("e"))
        .select(col("e.prob"), col("e.exact_wq"))
      est.join(broadcast(exact), Seq("prob"))
        .select(col("prob"), round(col("est_q"), 4).as("est_q"),
          round(col("exact_wq"), 4).as("exact_wq"),
          round(abs(round(col("est_q"), 4) - round(col("exact_wq"), 4)) /
            round(col("exact_wq"), 4), 6).as("rel_err"))
        .orderBy("prob")
    }),

    // per-group equi-depth bucketing: each event type's value domain
    // laned by its OWN sketch cutpoints, so every segment splits into
    // ~balanced eighths whatever its distribution — the grouped
    // TeraSort-sampler ("range-partition every segment's shard into
    // balanced files"); assignment stays a broadcast join + pure map
    "layout_equidepth_grouped" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").where(col("value").isNotNull)
        .withColumn("g", col("event_type"))
      Analytics.qsketchRangeBucketsGrouped(ev, "g", col("event_id"),
          "value", QsStreamK, EqBuckets)
        .groupBy("g", "bucket")
        .agg(count(lit(1)).as("n"),
          round(min("value"), 4).as("v_min"),
          round(max("value"), 4).as("v_max"))
        .orderBy("g", "bucket")
    }),

    // the grouped form of exact selection: per-group sketch lanes,
    // per-(group, lane) counts, one candidate scan over only the lanes
    // holding a target rank — "exact p99 per segment over 100 TB" in
    // three scans, no global sort, no per-group full buffers
    "agg_quantile_exact_select_grouped" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      Analytics.exactQuantilesSelectGrouped(li, "l_returnflag", rowKey,
          "l_extendedprice", QsProbs, k = QsK, nBuckets = 32)
        .select(col("l_returnflag").as("g"), col("prob"),
          round(col("exact_q"), 4).as("exact_q"))
        .orderBy("g", "prob")
    }),

    // equi-depth range bucketing from the sketch — the TeraSort-sampler
    // shape: nBuckets-1 cutpoints read off the k-row sample (derived
    // deterministically, so both engines compute identical cuts),
    // assignment a pure map counting cuts below each row; "range-
    // partition 100 TB into balanced files" with one sketch + one scan,
    // never a global sort. Per-bucket counts stay within the sketch's
    // O(1/sqrt k) rank error of n/nBuckets
    "layout_equidepth" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").where(col("value").isNotNull)
      Analytics.qsketchRangeBuckets(ev, col("event_id"), "value",
          QsK, EqBuckets)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("value"), 4).as("v_min"),
          round(max("value"), 4).as("v_max"))
        .orderBy("bucket")
    }),

    "stream_qsketch" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val shards = graft.streaming.StreamingQsketch.qsketchReplayShards(
        ev, pmod(col("user_id"), lit(QsShards)), col("event_id"),
        "value", QsStreamK)
      val est = graft.streaming.StreamingQsketch.mergedQuantiles(
        shards, QsStreamK, QsProbs)
      val direct = Analytics.qsketchQuantiles(
          Analytics.qsketchSample(ev, col("event_id"), "value", QsStreamK),
          QsProbs)
        .withColumnRenamed("est_q", "est_direct")
      est.join(direct, Seq("prob"))
        .select(col("prob"), round(col("est_q"), 4).as("est_q"),
          round(col("est_direct"), 4).as("est_direct"),
          (col("est_q") === col("est_direct")).as("stream_exact"))
        .orderBy("prob")
    }))

  /** The bottom-k row sample replayed in SQL — same md5-prefix hash
    * domain, same `(h, v)` tie rule as [[Analytics.qsketchSample]]. */
  private def qsSampleSql(src: String): String =
    s"""SELECT CAST(('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
          l_linenumber::VARCHAR), 1, 15)) AS BIGINT) AS h,
          l_extendedprice::DOUBLE AS v
        FROM $src ORDER BY h, v LIMIT $QsK"""

  /** The lower-index read-off: CAST(p AS DOUBLE) forces the identical
    * IEEE product both engines floor. */
  private def qsQuantSql(sampleCte: String, outCol: String): String =
    s"""SELECT p.prob, r.v AS $outCol
        FROM (VALUES ${QsProbs.map { case (l, p) => s"('$l', $p)" }
          .mkString(", ")}) p(prob, p)
        JOIN (SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
                     count(*) OVER () AS n FROM $sampleCte) r
          ON r.rn = CAST(floor(CAST(p.p AS DOUBLE) * (r.n - 1))
               AS BIGINT) + 1"""

  val oracles: Map[String, String] = Map(

    "agg_qsketch" -> {
      val exacts = QsProbs.map { case (l, p) =>
        s"""SELECT '$l' AS prob,
              round(quantile_cont(l_extendedprice, $p), 4) AS exact_q
            FROM lineitem"""
      }.mkString(" UNION ALL ")
      s"""WITH s AS (${qsSampleSql("lineitem")}),
           est AS (${qsQuantSql("s", "est_q")}),
           ex AS ($exacts)
         SELECT est.prob, round(est.est_q, 4) AS est_q, ex.exact_q,
           round(abs(round(est.est_q, 4) - ex.exact_q) / ex.exact_q, 6)
             AS rel_err
         FROM est JOIN ex USING (prob) ORDER BY prob"""
    },

    "agg_qsketch_merge" -> {
      val shardCtes = (0 until QsShards).map { r =>
        s"s$r AS (${qsSampleSql(
          s"(SELECT * FROM lineitem WHERE l_orderkey % $QsShards = $r) t$r")})"
      }.mkString(", ")
      val unionAll = (0 until QsShards)
        .map(r => s"SELECT h, v FROM s$r").mkString(" UNION ALL ")
      s"""WITH $shardCtes,
           mg AS (SELECT h, v FROM ($unionAll) u
                  ORDER BY h, v LIMIT $QsK),
           d AS (${qsSampleSql("lineitem")}),
           em AS (${qsQuantSql("mg", "est_merged")}),
           ed AS (${qsQuantSql("d", "est_direct")})
         SELECT em.prob, round(em.est_merged, 4) AS est_merged,
           round(ed.est_direct, 4) AS est_direct,
           round(em.est_merged, 4) = round(ed.est_direct, 4)
             AS merge_exact
         FROM em JOIN ed USING (prob) ORDER BY prob"""
    },

    "agg_qsketch_grouped" -> {
      val exacts = QsProbs.map { case (l, p) =>
        s"""SELECT l_returnflag AS g, '$l' AS prob,
              round(quantile_cont(l_extendedprice, $p), 4) AS exact_q
            FROM lineitem GROUP BY 1"""
      }.mkString(" UNION ALL ")
      s"""WITH s AS (
           SELECT g, h, v FROM (
             SELECT l_returnflag AS g,
               CAST(('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
                 l_linenumber::VARCHAR), 1, 15)) AS BIGINT) AS h,
               l_extendedprice::DOUBLE AS v,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY h, v) AS rk
             FROM lineitem) t WHERE rk <= $QsGroupK),
         r AS (SELECT g, v, h,
             row_number() OVER (PARTITION BY g ORDER BY v, h) AS rn,
             count(*) OVER (PARTITION BY g) AS n FROM s),
         est AS (SELECT r.g, p.prob, r.v AS est_q
           FROM (VALUES ${QsProbs.map { case (l, p) => s"('$l', $p)" }
             .mkString(", ")}) p(prob, p)
           JOIN r ON r.rn = CAST(floor(CAST(p.p AS DOUBLE) * (r.n - 1))
               AS BIGINT) + 1),
         ex AS ($exacts)
       SELECT est.g, est.prob, round(est.est_q, 4) AS est_q, ex.exact_q,
         round(abs(round(est.est_q, 4) - ex.exact_q) / ex.exact_q, 6)
           AS rel_err
       FROM est JOIN ex USING (g, prob) ORDER BY g, prob"""
    },

    "agg_qsketch_weighted" -> {
      val probsValues = QsProbs.map { case (l, p) => s"('$l', $p)" }
        .mkString(", ")
      s"""WITH keyed AS (
           SELECT l_orderkey, l_linenumber,
             l_extendedprice::DOUBLE AS v,
             ln((CAST(('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
                 l_linenumber::VARCHAR), 1, 15)) AS BIGINT)::DOUBLE + 1.0)
               / 1152921504606846976.0) / l_quantity::DOUBLE AS k
           FROM lineitem WHERE l_quantity > 0),
         samp AS (SELECT * FROM keyed
           ORDER BY k DESC, l_orderkey, l_linenumber LIMIT $QsK),
         sh AS (SELECT
             CAST(('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
               l_linenumber::VARCHAR), 1, 15)) AS BIGINT) AS h, v
           FROM samp),
         r AS (SELECT v, h,
             row_number() OVER (ORDER BY v, h) AS rn,
             count(*) OVER () AS n FROM sh),
         est AS (SELECT p.prob, r.v AS est_q
           FROM (VALUES $probsValues) p(prob, p)
           JOIN r ON r.rn = CAST(floor(CAST(p.p AS DOUBLE) * (r.n - 1))
               AS BIGINT) + 1),
         byv AS (SELECT l_extendedprice::DOUBLE AS v,
             sum(l_quantity::DOUBLE) AS w FROM lineitem GROUP BY 1),
         cumd AS (SELECT v, sum(w) OVER (ORDER BY v
             ROWS UNBOUNDED PRECEDING) AS cum FROM byv),
         fr AS (SELECT v, cum / (max(cum) OVER ()) AS f FROM cumd),
         ex AS (SELECT p.prob,
             min(CASE WHEN fr.f >= CAST(p.p AS DOUBLE) THEN fr.v END)
               AS exact_wq
           FROM (VALUES $probsValues) p(prob, p) CROSS JOIN fr
           GROUP BY 1)
       SELECT est.prob, round(est.est_q, 4) AS est_q,
         round(ex.exact_wq, 4) AS exact_wq,
         round(abs(round(est.est_q, 4) - round(ex.exact_wq, 4)) /
           round(ex.exact_wq, 4), 6) AS rel_err
       FROM est JOIN ex USING (prob) ORDER BY prob"""
    },

    "layout_equidepth_grouped" -> {
      val cutsIdx = (1 until EqBuckets).map(i => s"($i)").mkString(", ")
      s"""WITH hashed AS (
           SELECT event_type AS g,
             CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15))
               AS BIGINT) AS h,
             value::DOUBLE AS v
           FROM events WHERE value IS NOT NULL),
         s AS (SELECT g, h, v FROM (
             SELECT g, h, v, row_number() OVER (PARTITION BY g
               ORDER BY h, v) AS rk FROM hashed) t
           WHERE rk <= $QsStreamK),
         r AS (SELECT g, v, h,
             row_number() OVER (PARTITION BY g ORDER BY v, h) AS rn,
             count(*) OVER (PARTITION BY g) AS n FROM s),
         cuts AS (SELECT r.g, r.v AS cut
           FROM (VALUES $cutsIdx) p(i)
           JOIN r ON r.rn = CAST(floor((p.i / $EqBuckets.0) * (r.n - 1))
               AS BIGINT) + 1),
         assigned AS (
           SELECT e.g, e.v,
             (SELECT count(*) FROM cuts c
               WHERE c.g = e.g AND e.v > c.cut) AS bucket
           FROM hashed e)
       SELECT g, CAST(bucket AS INT) AS bucket, count(*)::BIGINT AS n,
         round(min(v), 4) AS v_min, round(max(v), 4) AS v_max
       FROM assigned GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    "agg_quantile_exact_select_grouped" -> {
      val rows = QsProbs.map { case (l, p) =>
        s"""SELECT l_returnflag AS g, '$l' AS prob,
            round(quantile_cont(l_extendedprice, $p), 4) AS exact_q
          FROM lineitem GROUP BY 1"""
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($rows) ORDER BY g, prob"
    },

    "agg_quantile_exact_select" -> {
      val rows = QsProbs.map { case (l, p) =>
        s"""SELECT '$l' AS prob,
            round(quantile_cont(l_extendedprice, $p), 4) AS exact_q
          FROM lineitem"""
      }.mkString(" UNION ALL ")
      s"SELECT * FROM ($rows) ORDER BY prob"
    },

    "layout_equidepth" -> {
      val cutsIdx = (1 until EqBuckets).map(i => s"($i)").mkString(", ")
      s"""WITH s AS (
           SELECT h, v FROM (
             SELECT CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15))
                 AS BIGINT) AS h,
               value::DOUBLE AS v,
               row_number() OVER (ORDER BY
                 CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15))
                   AS BIGINT), value::DOUBLE) AS rk
             FROM events WHERE value IS NOT NULL) t WHERE rk <= $QsK),
         r AS (SELECT v, h,
             row_number() OVER (ORDER BY v, h) AS rn,
             count(*) OVER () AS n FROM s),
         cuts AS (SELECT r.v AS cut
           FROM (VALUES $cutsIdx) p(i)
           JOIN r ON r.rn = CAST(floor((p.i / $EqBuckets.0) * (r.n - 1))
               AS BIGINT) + 1),
         assigned AS (
           SELECT e.value::DOUBLE AS v,
             (SELECT count(*) FROM cuts c
               WHERE e.value::DOUBLE > c.cut) AS bucket
           FROM events e WHERE e.value IS NOT NULL)
       SELECT CAST(bucket AS INT) AS bucket, count(*)::BIGINT AS n,
         round(min(v), 4) AS v_min, round(max(v), 4) AS v_max
       FROM assigned GROUP BY 1 ORDER BY 1"""
    },

    "stream_qsketch" -> {
      val probsValues = QsProbs.map { case (l, p) => s"('$l', $p)" }
        .mkString(", ")
      s"""WITH hashed AS (
           SELECT user_id % $QsShards AS shard,
             CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15))
               AS BIGINT) AS h,
             value::DOUBLE AS v
           FROM events WHERE value IS NOT NULL),
         lanes AS (
           SELECT shard, h, v FROM (
             SELECT shard, h, v, row_number() OVER (PARTITION BY shard
               ORDER BY h, v) AS rk FROM hashed) t
           WHERE rk <= $QsStreamK),
         merged AS (
           SELECT h, v FROM (
             SELECT h, v, row_number() OVER (ORDER BY h, v) AS rk
             FROM lanes) t WHERE rk <= $QsStreamK),
         mr AS (SELECT v, h,
             row_number() OVER (ORDER BY v, h) AS rn,
             count(*) OVER () AS n FROM merged),
         est AS (SELECT p.prob, mr.v AS est_q
           FROM (VALUES $probsValues) p(prob, p)
           JOIN mr ON mr.rn = CAST(floor(CAST(p.p AS DOUBLE) * (mr.n - 1))
               AS BIGINT) + 1),
         direct AS (
           SELECT h, v FROM (
             SELECT h, v, row_number() OVER (ORDER BY h, v) AS rk
             FROM hashed) t WHERE rk <= $QsStreamK),
         dr AS (SELECT v, h,
             row_number() OVER (ORDER BY v, h) AS rn,
             count(*) OVER () AS n FROM direct),
         ed AS (SELECT p.prob, dr.v AS est_direct
           FROM (VALUES $probsValues) p(prob, p)
           JOIN dr ON dr.rn = CAST(floor(CAST(p.p AS DOUBLE) * (dr.n - 1))
               AS BIGINT) + 1)
       SELECT est.prob, round(est.est_q, 4) AS est_q,
         round(ed.est_direct, 4) AS est_direct,
         est.est_q = ed.est_direct AS stream_exact
       FROM est JOIN ed USING (prob) ORDER BY prob"""
    },

    // exact brute-force top-k — the identity the two-stage retrieval
    // must reproduce at full candidate headroom
    "sim_ann_pq_iters" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                     WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0
             AS sim
         FROM embeddings, q
         ORDER BY sim DESC, vec_id LIMIT $PqK""",

    // the audio fixture formula replayed in SQL: sample i of doc id is
    // ((id*131 + i*i*7 + i*31) % 65536) - 32768 at 64 + id%33 samples,
    // 8/12/16 kHz by id residue
    "mm_audio_real" ->
      """SELECT d.doc_id,
           CAST(8000 + (d.doc_id % 3) * 4000 AS INT) AS sample_rate,
           CAST(64 + d.doc_id % 33 AS INT) AS n_samples,
           CAST((64 + d.doc_id % 33) * 1000
             // (8000 + (d.doc_id % 3) * 4000) AS BIGINT) AS duration_ms,
           max(abs(((d.doc_id * 131 + r.i * r.i * 7 + r.i * 31) % 65536)
             - 32768))::BIGINT AS peak,
           sum((((d.doc_id * 131 + r.i * r.i * 7 + r.i * 31) % 65536)
             - 32768) * (r.i + 1))::BIGINT AS checksum
         FROM documents d
         JOIN (SELECT range AS i FROM range(97)) r
           ON r.i < 64 + d.doc_id % 33
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    // es-PE currency recomposed: fmt-style thousands grouping over the
    // half-up-rounded integer part, the en-dash placeholder on null
    "scalar_currency_pen" ->
      """SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 97 = 0 THEN '–'
                ELSE 'S/ ' || format('{:,}',
                  CAST(round(l_extendedprice, 0) AS BIGINT))
           END AS precio_fmt
         FROM lineitem WHERE l_orderkey % 7 = 0
         ORDER BY l_orderkey, l_linenumber""")
}
