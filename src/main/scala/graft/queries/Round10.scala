package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.similarity.Similarity
import graft.textanalysis.{NaiveBayes, TextAnalysis}

/** Round-10 gates. Each Spark query here has a DuckDB oracle generated
  * from the same constants so the two sides cannot drift.
  *
  * Derivation: the reference's aggregation/audit surface
  * (`Actualizar_Precios_de_Nexo.py` resumen counts, the KPI JSON's
  * distinct-by-state cards) generalized to the sketch/set-estimate
  * layer a 100 TB corpus needs — overlap audits between pipelines
  * without joining the corpora.
  */
object Round10 extends GateBatch {
  type Q = (org.apache.spark.sql.SparkSession, String) =>
    org.apache.spark.sql.DataFrame

  /** Bottom-k size shared by the Spark queries and the generated
    * oracles. */
  private val KmvK = 128

  /** Keys for the distinct gate: user_id exercises the exact
    * (n < k) path, event_id the (k−1)/u_k estimator path. */
  private val KmvKeys = Seq("user_id", "event_id")

  /** The two overlapping event slices for the set-operation gate. */
  private val SliceASql = "event_type IN ('click', 'view')"
  private val SliceBSql = "value >= 30.0"

  /** Hybrid-retrieval constants shared by the Spark query and the
    * generated oracle: candidate-list depth, RRF constant, fused top-k. */
  private val RrfN = 50
  private val RrfC = 60
  private val RrfK = 20

  /** EWMA constants; the weight literals are emitted into the oracle
    * via Double.toString (shortest round-trip form), so both engines
    * compute with bit-identical coefficients. */
  private val EwmaAlpha = 0.3
  private val EwmaSpan = 20

  /** Anomaly-gate constants. */
  private val AnomK = 3.0
  private val AnomMinN = 5

  /** Hilbert gate resolution (2^bits ranks per column). */
  private val HilbertBits = 4

  /** The Hilbert iterative quadrant transform as chained CTEs — one
    * per bit level, high to low, generated from the same loop shape as
    * `ZOrder.hilbertD2` so the two sides cannot drift. `carry` columns
    * pass through untouched. */
  private def hilbertStepsSql(bits: Int, carry: Seq[String]): String = {
    val cc = carry.map(c => s"$c, ").mkString
    ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, stepIdx) =>
      val s = 1L << i
      s"""h${stepIdx + 1} AS (SELECT $cc
           CASE WHEN ((y >> $i) & 1) = 0 THEN
             CASE WHEN ((x >> $i) & 1) = 1 THEN ${s - 1} - y ELSE y END
           ELSE x END AS x,
           CASE WHEN ((y >> $i) & 1) = 0 THEN
             CASE WHEN ((x >> $i) & 1) = 1 THEN ${s - 1} - x ELSE x END
           ELSE y END AS y,
           d + ${s * s} * xor(3 * ((x >> $i) & 1), (y >> $i) & 1) AS d
         FROM h$stepIdx)"""
    }.mkString(",\n       ")
  }

  /** The shared rank CTE over orders (o_totalprice → r0, o_custkey →
    * r1), identical to the scalar_zorder oracle's derivation. */
  private def rankCtesSql(bits: Int): String = {
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits))
    s"""c0 AS (SELECT quantile_cont(o_totalprice,
           [${probs.mkString(", ")}]) AS cuts FROM orders),
       c1 AS (SELECT quantile_cont(o_custkey,
           [${probs.mkString(", ")}]) AS cuts FROM orders),
       r AS (SELECT o_orderkey,
           len(list_filter(c0.cuts, v -> o_totalprice > round(v, 6)))
             AS r0,
           len(list_filter(c1.cuts, v -> o_custkey > round(v, 6))) AS r1
         FROM orders, c0, c1)"""
  }

  private def hilbertOracleSql(bits: Int): String =
    s"""WITH ${rankCtesSql(bits)},
       h0 AS (SELECT o_orderkey, r0 AS x, r1 AS y, 0 AS d FROM r),
       ${hilbertStepsSql(bits, Seq("o_orderkey"))}
       SELECT o_orderkey, d::BIGINT AS h FROM h$bits
       ORDER BY o_orderkey"""

  /** layout_boxes oracle: both curve values from the same rank table,
    * 16 equal-population curve segments each, per-segment rank-space
    * bounding boxes. */
  private def layoutBoxesOracleSql(bits: Int): String = {
    val segProbs = (1 until 16).map(_ / 16.0)
    val morton = (0 until bits).flatMap { i =>
      Seq(s"(((r0 >> $i) & 1) << ${i * 2})",
        s"(((r1 >> $i) & 1) << ${i * 2 + 1})")
    }.mkString(" + ")
    def perCurve(name: String): String =
      s"""SELECT '$name' AS curve,
           (1 + len(list_filter(k_$name.cuts, v -> cv > round(v, 6))))::BIGINT
             AS segment,
           count(*) AS n,
           (max(r0) - min(r0) + 1)::BIGINT AS dx,
           (max(r1) - min(r1) + 1)::BIGINT AS dy,
           ((max(r0) - min(r0) + 1) * (max(r1) - min(r1) + 1))::BIGINT
             AS box_area
         FROM cv_$name, k_$name GROUP BY 1, 2"""
    s"""WITH ${rankCtesSql(bits)},
       cv_morton AS (SELECT o_orderkey, r0, r1, ($morton) AS cv FROM r),
       h0 AS (SELECT o_orderkey, r0, r1, r0 AS x, r1 AS y, 0 AS d FROM r),
       ${hilbertStepsSql(bits, Seq("o_orderkey", "r0", "r1"))},
       cv_hilbert AS (SELECT o_orderkey, r0, r1, d AS cv FROM h$bits),
       k_morton AS (SELECT quantile_cont(cv,
           [${segProbs.mkString(", ")}]) AS cuts FROM cv_morton),
       k_hilbert AS (SELECT quantile_cont(cv,
           [${segProbs.mkString(", ")}]) AS cuts FROM cv_hilbert)
       (${perCurve("hilbert")})
       UNION ALL (${perCurve("morton")})
       ORDER BY curve, segment"""
  }

  /** The truncated-EWMA window expression (floor-6dp) over window `w`,
    * shared by the window_ewma and window_anomaly oracles. Weight
    * literals via Double.toString — bit-identical coefficients on both
    * engines. */
  private def ewmaExprSql: String = {
    val num = (0 until EwmaSpan).map { j =>
      val wj = java.lang.Double.toString(math.pow(1.0 - EwmaAlpha, j))
      if (j == 0) s"coalesce(value * $wj, 0.0)"
      else s"coalesce(lag(value, $j) OVER w * $wj, 0.0)"
    }.mkString(" + ")
    val den = (0 until EwmaSpan).map { j =>
      val wj = java.lang.Double.toString(math.pow(1.0 - EwmaAlpha, j))
      if (j == 0) s"CASE WHEN value IS NOT NULL THEN $wj ELSE 0.0 END"
      else s"CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN $wj" +
        " ELSE 0.0 END"
    }.mkString(" + ")
    s"floor(($num) / ($den) * 1000000 + 0.5) / 1000000"
  }

  /** Merkle-diff constants: the deterministic "after" version of orders
    * (modify / delete / insert by key residue) and the lane count.
    * BOTH the Spark query and the oracle derive from these. */
  private val DiffBuckets = 1024
  private val DiffCols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
  private val ModifyMod = 101L
  private val DeleteMod = 103L
  private val InsertMod = 107L

  /** Join-IVM change-feed constants (disjoint by priority: delete
    * beats update; inserts mint fresh keys). */
  private val JDelMod = 89L
  private val JUpdMod = 97L
  private val JInsMod = 83L
  private val JRekeyMod = 100L

  /** Inserted keys in both simulated-migration fixtures mint as
    * `o_orderkey + max(o_orderkey) + 1` — guaranteed collision-free at
    * ANY scale factor (a fixed offset silently collides once keys
    * outgrow it: TPC-H orders keys reach 6M·SF, so 5M broke at SF ≥ 1;
    * and the +1 covers key 0, which `+max` alone maps onto the max key
    * itself). Spark side: a 1-row broadcast cross join, no driver
    * round-trip; oracle side: the equivalent scalar subquery. */
  private def withMaxKey(df: org.apache.spark.sql.DataFrame,
                         of: org.apache.spark.sql.DataFrame) =
    df.crossJoin(broadcast(
      of.agg((max(col("o_orderkey")) + 1L).as("__maxk"))))

  private val insOffsetSql = "(SELECT max(o_orderkey) + 1 FROM orders)"

  /** NB classifier constants: positive class, train/holdout residue,
    * Laplace alpha. */
  private[queries] val NbPosLang = "en"
  private[queries] val NbHoldoutMod = 3L
  private[queries] val NbAlpha = 0.5

  /** The simulated after-migration orders table (Spark side). */
  private def ordersAfter(before: org.apache.spark.sql.DataFrame) = {
    val base = before
      .where(col("o_orderkey") % DeleteMod =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % ModifyMod === 0,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice"))
          .as("o_totalprice"))
    val inserted = withMaxKey(
        before.where(col("o_orderkey") % InsertMod === 0), before)
      .select((col("o_orderkey") + col("__maxk")).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
    base.unionByName(inserted)
  }

  /** The same after-table as a DuckDB CTE body. */
  private def ordersAfterSql: String =
    s"""SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % $ModifyMod = 0 THEN o_totalprice + 1.0
           ELSE o_totalprice END AS o_totalprice
       FROM orders WHERE o_orderkey % $DeleteMod <> 0
       UNION ALL
       SELECT o_orderkey + $insOffsetSql, o_orderstatus, o_totalprice
       FROM orders WHERE o_orderkey % $InsertMod = 0"""

  val defs: Map[String, Q] = Map(
    // replayable bottom-k distinct sketch: the estimate is one
    // TakeOrderedAndProject over unique hashes + one k-row reduce;
    // user_id lands under k (sketch == the distinct set, exact),
    // event_id takes the (k-1)/u_k path
    "agg_kmv_distinct" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      KmvKeys.map { k =>
        Analytics.kmvEstimate(Analytics.kmvSketch(ev, k, KmvK), KmvK)
          .crossJoin(broadcast(
            ev.agg(countDistinct(col(k)).as("true_distinct"))))
          .select(lit(k).as("key"), col("true_distinct"), col("kmv_est"))
      }.reduce(_ unionByName _).orderBy("key")
    }),

    // union/Jaccard/intersection across two pipeline slices from their
    // bottom-k sketches alone — the overlap audit that never joins the
    // corpora; truths ride along from exact distincts for calibration
    "agg_kmv_setops" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val a = ev.where(expr(SliceASql))
      val b = ev.where(expr(SliceBSql))
      val tru = a.select("event_id")
        .unionByName(b.select("event_id")).distinct()
        .agg(count(lit(1)).as("true_union"))
        .crossJoin(broadcast(
          a.agg(countDistinct(col("event_id")).as("true_a"))))
        .crossJoin(broadcast(
          b.agg(countDistinct(col("event_id")).as("true_b"))))
        .crossJoin(broadcast(a.select("event_id")
          .intersect(b.select("event_id"))
          .agg(count(lit(1)).as("true_intersect"))))
      Analytics.kmvSetOps(a, b, "event_id", KmvK)
        .crossJoin(broadcast(tru))
        .select("k", "true_a", "est_a", "true_b", "est_b",
          "true_union", "est_union", "jaccard",
          "true_intersect", "est_intersect")
    }),

    // the KMV merge contract INSIDE a gate: sketch two disjoint halves
    // independently, merge by union-then-keep-k-smallest, and land on
    // the same estimate as sketching the whole corpus — the property
    // that lets 1000 executors sketch shards and a k-row reduce union
    // a 100 TB scan
    "agg_kmv_merge" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val half = ev.agg(expr("percentile(event_id, 0.5)")).head().getDouble(0)
      val a = ev.where(col("event_id") <= half)
      val b = ev.where(col("event_id") > half)
      val merged = Analytics.kmvSketch(a, "event_id", KmvK)
        .unionByName(Analytics.kmvSketch(b, "event_id", KmvK))
        .groupBy("h").agg(count(lit(1)).as("__n")).select("h")
        .orderBy("h").limit(KmvK)
      Analytics.kmvEstimate(Analytics.kmvSketch(ev, "event_id", KmvK), KmvK)
        .withColumnRenamed("kmv_est", "est_full")
        .crossJoin(broadcast(Analytics.kmvEstimate(merged, KmvK)
          .withColumnRenamed("kmv_est", "est_merged")))
        .crossJoin(broadcast(
          ev.agg(countDistinct(col("event_id")).as("true_distinct"))))
        .select(col("true_distinct"), col("est_full"), col("est_merged"),
          (col("est_full") === col("est_merged")).as("merge_exact"))
    }),

    // hybrid retrieval: BM25 candidate list + dense-cosine candidate
    // list (the documents/embeddings tables share the 0..499 id space),
    // fused by reciprocal-rank fusion. Each scorer is one corpus scan +
    // a bounded top-n; the fusion runs on 2n rows whatever the corpus
    // size — the RAG retrieval stack as one declarative plan
    "sim_hybrid_rrf" -> ((s, dir) => {
      val sparse = Similarity.rankByScore(
        TextAnalysis.bm25(tbl(s, dir, "documents"), "doc_id", "text",
          Round7.Bm25Terms),
        "doc_id", "bm25", RrfN)
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val dense = Similarity.rankByScore(
        Similarity.cosineToQuery(emb, "vec_id", "embedding", q, "qvec")
          .withColumn("sim", round(col("sim"), 4))
          .withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "sim", RrfN)
      Similarity.rrfFuse(sparse, dense, "doc_id", RrfC, RrfK)
    }),

    // Hilbert-curve clustering value: the better-locality sibling of
    // scalar_zorder (consecutive curve cells are always grid
    // neighbors); same exact-quantile ranks, pure-map transform
    "scalar_hilbert" -> ((s, dir) =>
      graft.operators.ZOrder.withHilbertValue(tbl(s, dir, "orders"),
          "o_totalprice", "o_custkey", bits = HilbertBits, hCol = "h")
        .select("o_orderkey", "h")
        .orderBy("o_orderkey")),

    // PSI drift report between two corpus versions: both bucketed by
    // the BASELINE deciles (one broadcast cutpoint reduce), shares
    // rounded before the ln so the report replays bit-identically —
    // the "does serving still look like training" monitoring gate
    "audit_drift_psi" -> ((s, dir) => {
      val base = tbl(s, dir, "orders").select("o_custkey", "o_totalprice")
      val current = base.select(
        when(col("o_custkey") % 4 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      Analytics.driftPsi(base, current, "o_totalprice", nBuckets = 10)
        .orderBy("bucket")
    }),

    // per-group PSI: each event type buckets by ITS OWN baseline
    // quintiles, so the click-only drift registers on clicks and
    // stays ~0 everywhere else — the per-segment corpus-drift report.
    // The current version also carries a segment the baseline never
    // saw ('__new', the clicks relabeled), exercising the explicit
    // new-group row (null bucket, p_base 0, null psi) instead of the
    // silent drop a naive inner join would produce
    "audit_drift_psi_grouped" -> ((s, dir) => {
      val base = tbl(s, dir, "events").select("event_type", "value")
      val current = base.select(col("event_type"),
        when(col("event_type") === "click", col("value") * 1.2)
          .otherwise(col("value")).as("value"))
        .unionByName(base.filter(col("event_type") === "click")
          .select(lit("__new").as("event_type"),
            (col("value") * 0.5).as("value")))
      Analytics.driftPsiGrouped(base, current, "event_type", "value",
          nBuckets = 5)
        .orderBy(col("event_type"), col("bucket").asc_nulls_first)
    }),

    // the layout operators' empirical justification: per-segment
    // rank-space bounding boxes for 16 equal-population segments of
    // each curve — Hilbert's unit-step locality should show tighter
    // (never pathologically wider) boxes than Morton's seam jumps.
    // One scan serves BOTH curves: their segment cutpoints come from a
    // single fused percentile reduce and each row explodes into its
    // two (curve, segment) memberships before one shared 32-group
    // aggregate — the per-curve formulation would rescan the ranked
    // table once per curve
    "layout_boxes" -> ((s, dir) => {
      import graft.operators.ZOrder
      val segProbs = (1 until 16).map(_ / 16.0)
      val ranked = ZOrder.withRanks(
          tbl(s, dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_custkey"),
          Seq("o_totalprice", "o_custkey"), HilbertBits)
        .withColumn("__cvh", ZOrder.hilbertD2(col("__rank0"),
          col("__rank1"), HilbertBits))
        .withColumn("__cvm", ZOrder.interleave(
          Seq(col("__rank0"), col("__rank1")), HilbertBits))
        // the segment-cut aggregate AND the probe side both read this
        // frame: materialize once or the whole exact-percentile rank +
        // curve subtree runs twice (persist()/checkpoint at cluster
        // scale; the frame is keys+ranks+curve values, tiny vs orders)
        .transform(d => graft.operators.Checkpoints.pin(d))
      val cuts = ranked.agg(
        percentile(col("__cvh"), array(segProbs.map(lit): _*)).as("__ch"),
        percentile(col("__cvm"), array(segProbs.map(lit): _*)).as("__cm"))
      def bucketOf(v: org.apache.spark.sql.Column,
                   cs: org.apache.spark.sql.Column) =
        aggregate(cs, lit(1),
          (acc, c) => acc + when(v > round(c, 6), 1).otherwise(0))
      ranked.join(broadcast(cuts))
        .select(col("__rank0"), col("__rank1"),
          explode(array(
            struct(lit("hilbert").as("curve"),
              bucketOf(col("__cvh"), col("__ch")).as("bucket")),
            struct(lit("morton").as("curve"),
              bucketOf(col("__cvm"), col("__cm")).as("bucket"))))
            .as("__e"))
        .groupBy(col("__e.curve").as("curve"),
          col("__e.bucket").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("__rank0").as("__l0"), max("__rank0").as("__h0"),
          min("__rank1").as("__l1"), max("__rank1").as("__h1"))
        .select(col("curve"), col("bucket").cast("long").as("segment"),
          col("n"),
          (col("__h0") - col("__l0") + 1).cast("long").as("dx"),
          (col("__h1") - col("__l1") + 1).cast("long").as("dy"),
          ((col("__h0") - col("__l0") + 1) *
            (col("__h1") - col("__l1") + 1)).cast("long").as("box_area"))
        .orderBy("curve", "segment")
    }),

    // anomaly flags over the EWMA forecast: |value - prev ewma| vs
    // k*sigma of the trailing span (explicit sum/sum-sq sigma — never
    // an engine-native stddev whose accumulation order differs); cold
    // keys (< minN trailing rows) never alarm
    "window_anomaly" -> ((s, dir) =>
      Analytics.ewmaAnomaly(tbl(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value", EwmaAlpha, EwmaSpan,
          AnomK, AnomMinN)
        .select("event_id", "user_id", "value", "ewma", "forecast",
          "anom_score", "is_anomaly")
        .orderBy("event_id")),

    // Welford running z-score anomalies (the unbounded-history sibling
    // of window_anomaly): each event scores against its key's PRIOR
    // stats, then folds in — three doubles of state per key streaming;
    // gated via the bit-identical batch replay, recursion stepped by
    // the DuckDB oracle
    "stream_anomaly" -> ((s, dir) =>
      graft.streaming.StreamingAnomaly.anomalyReplay(
          tbl(s, dir, "events"), "user_id", "event_id", "ts", "value",
          k = AnomK, minN = AnomMinN)
        .orderBy("event_id")),

    // the O(1)-state streaming recursion s <- a*x + (1-a)*s, gated via
    // its batch replay twin (bit-identical sequential fold); the
    // DuckDB oracle steps the same recursion as a recursive CTE
    "stream_ewma" -> ((s, dir) =>
      graft.streaming.StreamingEwma.ewmaReplay(tbl(s, dir, "events"),
          "user_id", "event_id", "ts", "value", EwmaAlpha)
        .orderBy("event_id")),

    // ExactSubstr-lite span removal: every cross-corpus duplicated
    // 8-gram occurrence is cut except the canonical first — the
    // REMOVAL sibling of the text_dup_spans report, linear shapes only
    "text_strip_dup_spans" -> ((s, dir) =>
      TextAnalysis.stripDuplicatedSpans(tbl(s, dir, "documents"),
          "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // RAG capstone: span-scrubbed corpus -> BM25 + dense candidate
    // lists -> reciprocal-rank fusion -> greedy context packing under
    // a 512-token budget; the oracle recomposes every stage from the
    // same shared CTEs, so the pipeline is verified END TO END.
    // The chain lives in pipeline.Rag (also the graft_rag TVF)
    "pipeline_rag" -> ((s, dir) =>
      graft.pipeline.Rag.pack(tbl(s, dir, "documents"),
        tbl(s, dir, "embeddings"), queryVecId = 0,
        Round7.Bm25Terms, RrfN, RrfC, RrfK, RagBudget,
        materialize = d => graft.operators.Checkpoints.pin(d))),

    // round-11 capstone extension: the fused candidate list reranks
    // through the corpus-trained NB quality classifier — retrieval's
    // "is this doc worth the context window" filter. Classifier
    // scoring touches ONLY the <= RrfK fused candidates (broadcast
    // semi join), never the corpus; the oracle recomposes retrieval
    // AND the classifier from the same shared CTEs, end to end
    "pipeline_rag_rerank" -> ((s, dir) =>
      graft.pipeline.Rag.rerank(tbl(s, dir, "documents"),
        tbl(s, dir, "embeddings"), queryVecId = 0,
        Round7.Bm25Terms, RrfN, RrfC, RrfK,
        NbPosLang, NbHoldoutMod, NbAlpha,
        materialize = d => graft.operators.Checkpoints.pin(d))),

    // per-user EWMA smoothing of the event value series: span fixed
    // lag() terms over ONE window pass (fixed expression tree — float
    // order identical on both engines); bounded O(span) state per key
    "window_ewma" -> ((s, dir) =>
      Analytics.ewma(tbl(s, dir, "events"), Seq("user_id"),
          Seq("ts", "event_id"), "value", EwmaAlpha, EwmaSpan)
        .select("event_id", "user_id", "value", "ewma")
        .orderBy("event_id")),

    // Merkle diff pass 1: which of the 1024 checksum lanes disagree
    // between orders and its simulated migration — two aggregating
    // scans + a lane-count-row join, never a row comparison
    "audit_bucket_diff" -> ((s, dir) => {
      val before = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Analytics.bucketDiff(before, ordersAfter(before),
          Seq("o_orderkey"), DiffCols, DiffBuckets)
        .orderBy("bucket")
    }),

    // Merkle diff pass 2: the differing keys, computed ONLY inside the
    // dirty lanes (broadcast bucket prune before the row-digest join)
    "audit_bucket_diff_keys" -> ((s, dir) => {
      val before = tbl(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Analytics.bucketDiffKeys(before, ordersAfter(before),
          Seq("o_orderkey"), DiffCols, DiffBuckets)
        .orderBy("o_orderkey")
    }),

    // runtime-filter semi join: the dim key set rides as a broadcast
    // Bloom filter pruning the fact scan BEFORE the shuffle; the exact
    // semi join drops false positives, so the oracle is the plain semi
    // join — the filter buys shuffle volume, never changes the answer
    "join_bloom_prune" -> ((s, dir) =>
      graft.operators.BloomJoin.semiJoinBloom(
          tbl(s, dir, "lineitem"),
          tbl(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // skew-proof salted join: lineitem concentrates on 10 supplier
    // keys (worst-case hot keys); the deterministic fact-side salt +
    // 8x dim replication spreads each over 8 reducers — row-identical
    // to the plain join the oracle runs
    "join_salted" -> ((s, dir) =>
      graft.operators.BloomJoin.skewSaltedJoin(
          tbl(s, dir, "lineitem"), tbl(s, dir, "supplier"),
          "l_suppkey", "s_suppkey",
          saltCols = Seq("l_orderkey", "l_linenumber"), salts = 8)
        .select("l_orderkey", "l_linenumber", "s_name", "s_acctbal")
        .orderBy("l_orderkey", "l_linenumber", "s_name")),

    // incremental JOIN-view maintenance: the orders⋈customer view
    // updates under a fact CDC batch via a broadcast-anti survivor
    // filter + a delta-sized rejoin — O(delta), never a recompute;
    // the oracle IS the from-scratch recompute
    "cdc_incremental_join" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust = tbl(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
      val view = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name",
          "c_mktsegment")
      val del = orders.where(col("o_orderkey") % JDelMod === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit("D").as("op"))
      val upd = orders.where(col("o_orderkey") % JUpdMod === 0 &&
          col("o_orderkey") % JDelMod =!= 0)
        .select(col("o_orderkey"),
          (col("o_custkey") % JRekeyMod + 1L).as("o_custkey"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          lit("U").as("op"))
      val ins = withMaxKey(
          orders.where(col("o_orderkey") % JInsMod === 0), orders)
        .select((col("o_orderkey") + col("__maxk")).as("o_orderkey"),
          (col("o_custkey") % JRekeyMod + 1L).as("o_custkey"),
          col("o_totalprice"), lit("I").as("op"))
      graft.operators.IncrementalAgg.maintainJoinView(
          view, cust, del.unionByName(upd).unionByName(ins),
          pkCols = Seq("o_orderkey"),
          factCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
          factKey = "o_custkey", dimKey = "c_custkey", opCol = "op")
        .orderBy("o_orderkey")
    }),

    // supervised quality/language classifier, training half: smoothed
    // per-token class likelihood ratios on the non-holdout docs — the
    // model IS a vocabulary-sized table (version it, broadcast it)
    "text_classifier_train" -> ((s, dir) =>
      NaiveBayes.train(
          tbl(s, dir, "documents").where(col("doc_id") % NbHoldoutMod =!= 0),
          "text", col("lang") === NbPosLang, NbAlpha)
        .select(col("token"), col("c_pos"), col("c_neg"),
          round(col("ratio"), 6).as("ratio"))
        .orderBy("token")),

    // scoring half: held-out docs against the trained model — one
    // explode + one vocabulary join + a per-doc mean; log-free so the
    // score replays bit-identically in the oracle
    "text_classifier_score" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = NaiveBayes.train(
        docs.where(col("doc_id") % NbHoldoutMod =!= 0),
        "text", col("lang") === NbPosLang, NbAlpha)
      val holdout = docs.where(col("doc_id") % NbHoldoutMod === 0)
      NaiveBayes.score(model, holdout, "doc_id", "text")
        .join(holdout.select("doc_id", "lang"), Seq("doc_id"))
        .select("doc_id", "lang", "nb_score", "nb_pred")
        .orderBy("doc_id")
    }))

  /** DuckDB bottom-k CTE over the same md5 hash family (15 hex digits
    * = 60 bits; 2^60 is exactly double-representable so the single
    * normalizing division replays bit-for-bit). */
  private def kmvSketchSql(src: String, keyCol: String): String =
    s"""SELECT CAST(('0x' || substr(md5($keyCol::VARCHAR), 1, 15))
          AS BIGINT) AS h
        FROM $src WHERE $keyCol IS NOT NULL
        GROUP BY 1 ORDER BY h LIMIT $KmvK"""

  private def kmvEstSql(agg: String): String =
    s"""CASE WHEN $agg.n < $KmvK THEN $agg.n::DOUBLE
        ELSE ${KmvK - 1}.0 / ($agg.vk / 1152921504606846976.0) END"""

  /** The row-digest string both Merkle-diff oracles hash — mirrors the
    * Spark side's `concat_ws("|", …)` over null-sentineled terms: each
    * column coalesces to `__NULL__` IN PLACE, so a NULL never poisons
    * the whole digest (DuckDB `||`) nor silently drops its position
    * (Spark concat_ws), and both engines hash the identical string on
    * any null pattern. */
  private def digestTerm(c: String): String =
    s"coalesce($c::VARCHAR, '__NULL__')"

  private val rowHexExpr: String =
    s"md5(${digestTerm("o_orderkey")} || '|' || " +
      s"${digestTerm("o_orderstatus")} || '|' || " +
      s"${digestTerm("o_totalprice")})"

  private val bucketExpr: String =
    s"CAST(('0x' || substr(md5(${digestTerm("o_orderkey")}), 1, 8)) " +
      s"AS BIGINT) % $DiffBuckets"

  /** Per-bucket three-channel checksum CTE over `src`. */
  private def bucketCkSql(src: String): String =
    s"""SELECT $bucketExpr AS bucket, count(*) AS n_rows,
         sum(CAST(('0x' || substr($rowHexExpr, 1, 8)) AS BIGINT))::BIGINT
           AS content_sum,
         bit_xor(CAST(('0x' || substr($rowHexExpr, 1, 15)) AS BIGINT))
           AS content_xor
       FROM $src GROUP BY 1"""

  /** Row-digest selection over `src`, left open for the dirty-bucket
    * predicate (`… AND bucket IN (…)`). */
  private def digestSql(src: String): String =
    s"""SELECT o_orderkey,
         CAST(('0x' || substr($rowHexExpr, 1, 15)) AS BIGINT) AS d
       FROM $src WHERE 1 = 1"""

  /** The strip-duplicated-spans chain as a reusable CTE block ending in
    * `cleanv(doc_id, n_tokens, n_removed, clean_text)` — shared by the
    * standalone gate and the RAG pipeline capstone so the stages cannot
    * drift. */
  private val stripSpanCtes: String =
    """w AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS ws
         FROM documents
         WHERE text IS NOT NULL AND length(trim(text)) > 0),
       sgen AS (SELECT doc_id,
           unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i, ws
         FROM w),
       spn AS (SELECT doc_id, i,
           CAST(('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')),
             1, 15)) AS BIGINT) AS k
         FROM sgen),
       spc AS (SELECT k, count(*) AS n FROM spn GROUP BY k),
       firsts AS (SELECT k, doc_id, i FROM (
           SELECT k, doc_id, i, row_number()
             OVER (PARTITION BY k ORDER BY doc_id, i) AS rn FROM spn) t
         WHERE rn = 1),
       dup AS (SELECT spn.doc_id, spn.i
         FROM spn JOIN spc ON spn.k = spc.k JOIN firsts f ON spn.k = f.k
         WHERE spc.n >= 2
           AND NOT (spn.doc_id = f.doc_id AND spn.i = f.i)),
       cov AS (SELECT DISTINCT doc_id, idx FROM (
           SELECT doc_id, unnest(generate_series(i, i + 7)) AS idx
           FROM dup) t),
       tok AS (SELECT doc_id,
           unnest(generate_series(1, len(ws))) AS idx, ws FROM w),
       kept AS (SELECT t.doc_id, t.idx, t.ws[t.idx] AS tk
         FROM tok t LEFT JOIN cov
           ON t.doc_id = cov.doc_id AND t.idx = cov.idx
         WHERE cov.doc_id IS NULL),
       cagg AS (SELECT doc_id, count(*) AS n_kept,
           string_agg(tk, ' ' ORDER BY idx) AS clean_text
         FROM kept GROUP BY doc_id),
       cleanv AS (SELECT w.doc_id, len(w.ws)::BIGINT AS n_tokens,
           (len(w.ws) - coalesce(cagg.n_kept, 0))::BIGINT AS n_removed,
           coalesce(cagg.clean_text, '') AS clean_text
         FROM w LEFT JOIN cagg USING (doc_id))"""

  /** RAG context token budget for `pipeline_rag`. */
  private val RagBudget = 512

  /** The NB model as a DuckDB CTE chain (mirrors [[NaiveBayes.train]]
    * on the non-holdout slice; all probability arithmetic forced to
    * DOUBLE so the division replays Spark's bit-for-bit). */
  private[queries] def nbModelCtes: String =
    s"""toks AS (SELECT doc_id, lang,
         regexp_split_to_array(trim(text), '\\s+') AS t
       FROM documents
       WHERE text IS NOT NULL AND length(trim(text)) > 0),
     tr AS (SELECT lang = '$NbPosLang' AS pos, unnest(t) AS token
       FROM toks WHERE doc_id % $NbHoldoutMod <> 0),
     cnt AS (SELECT token,
         sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS c_pos,
         sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS c_neg
       FROM tr GROUP BY 1),
     tot AS (SELECT sum(c_pos)::DOUBLE AS np, sum(c_neg)::DOUBLE AS nn,
         count(*)::DOUBLE AS v FROM cnt),
     model AS (SELECT token, c_pos, c_neg,
         ((c_pos::DOUBLE + $NbAlpha) / (np + $NbAlpha * v)) /
         (((c_pos::DOUBLE + $NbAlpha) / (np + $NbAlpha * v)) +
          ((c_neg::DOUBLE + $NbAlpha) / (nn + $NbAlpha * v))) AS ratio
       FROM cnt, tot)"""

  val oracles: Map[String, String] = Map(
    "agg_kmv_distinct" -> KmvKeys.map { k =>
      s"""(WITH s AS (${kmvSketchSql("events", k)}),
           a AS (SELECT count(*) AS n, max(h) AS vk FROM s)
         SELECT '$k' AS key,
           (SELECT count(DISTINCT $k) FROM events) AS true_distinct,
           round(${kmvEstSql("a")}, 4) AS kmv_est
         FROM a)"""
    }.mkString("", " UNION ALL ", " ORDER BY key"),

    "agg_kmv_setops" ->
      s"""WITH a AS (SELECT event_id FROM events WHERE $SliceASql),
           b AS (SELECT event_id FROM events WHERE $SliceBSql),
           sa AS (${kmvSketchSql("a", "event_id")}),
           sb AS (${kmvSketchSql("b", "event_id")}),
           m AS (SELECT h, max(ina) AS ina, max(inb) AS inb
             FROM (SELECT h, 1 AS ina, 0 AS inb FROM sa
                   UNION ALL SELECT h, 0, 1 FROM sb) t
             GROUP BY h ORDER BY h LIMIT $KmvK),
           ua AS (SELECT count(*) AS n, max(h) AS vk,
               sum(ina * inb) AS nboth FROM m),
           aa AS (SELECT count(*) AS n, max(h) AS vk FROM sa),
           ba AS (SELECT count(*) AS n, max(h) AS vk FROM sb)
         SELECT $KmvK AS k,
           (SELECT count(DISTINCT event_id) FROM a) AS true_a,
           round(${kmvEstSql("aa")}, 4) AS est_a,
           (SELECT count(DISTINCT event_id) FROM b) AS true_b,
           round(${kmvEstSql("ba")}, 4) AS est_b,
           (SELECT count(*) FROM (SELECT event_id FROM a
             UNION SELECT event_id FROM b) u) AS true_union,
           round(${kmvEstSql("ua")}, 4) AS est_union,
           round(ua.nboth::DOUBLE / ua.n, 6) AS jaccard,
           (SELECT count(*) FROM (SELECT event_id FROM a
             INTERSECT SELECT event_id FROM b) i) AS true_intersect,
           round((${kmvEstSql("ua")}) * (ua.nboth::DOUBLE / ua.n), 4)
             AS est_intersect
         FROM ua, aa, ba""",

    "agg_kmv_merge" -> {
      val aSrc = "(SELECT event_id FROM events, m WHERE event_id <= half) ta"
      val bSrc = "(SELECT event_id FROM events, m WHERE event_id > half) tb"
      s"""WITH m AS (SELECT quantile_cont(event_id, 0.5) AS half
           FROM events),
         sa AS (${kmvSketchSql(aSrc, "event_id")}),
         sb AS (${kmvSketchSql(bSrc, "event_id")}),
         mg AS (SELECT h FROM (SELECT h FROM sa UNION ALL
             SELECT h FROM sb) t
           GROUP BY h ORDER BY h LIMIT $KmvK),
         sf AS (${kmvSketchSql("events", "event_id")}),
         fa AS (SELECT count(*) AS n, max(h) AS vk FROM sf),
         ma AS (SELECT count(*) AS n, max(h) AS vk FROM mg)
       SELECT (SELECT count(DISTINCT event_id) FROM events)
           AS true_distinct,
         round(${kmvEstSql("fa")}, 4) AS est_full,
         round(${kmvEstSql("ma")}, 4) AS est_merged,
         round(${kmvEstSql("fa")}, 4) = round(${kmvEstSql("ma")}, 4)
           AS merge_exact
       FROM fa, ma"""
    },

    "sim_hybrid_rrf" ->
      s"""WITH ${Round7.bm25Ctes(Round7.Bm25Terms)},
           bm AS (SELECT doc_id,
               round(${Round7.bm25ScoreExpr(Round7.Bm25Terms)}, 4) + 0.0
                 AS bm25
             FROM f, s),
           sr AS (SELECT doc_id, row_number()
               OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS rank_sparse
             FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id
               LIMIT $RrfN) t),
           q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
             WHERE vec_id = 0),
           dn AS (SELECT vec_id AS doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qv), 4)
                 + 0.0 AS sim
             FROM embeddings, q),
           dr AS (SELECT doc_id, row_number()
               OVER (ORDER BY sim DESC, doc_id)::BIGINT AS rank_dense
             FROM (SELECT * FROM dn ORDER BY sim DESC, doc_id
               LIMIT $RrfN) t)
         SELECT coalesce(sr.doc_id, dr.doc_id) AS doc_id,
           rank_sparse, rank_dense,
           round(coalesce(1.0 / ($RrfC + rank_sparse), 0.0) +
             coalesce(1.0 / ($RrfC + rank_dense), 0.0), 6) AS rrf
         FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
         ORDER BY rrf DESC, doc_id LIMIT $RrfK""",

    "audit_bucket_diff" ->
      s"""WITH after AS ($ordersAfterSql),
           cb AS (${bucketCkSql("orders")}),
           ca AS (${bucketCkSql("after")})
         SELECT coalesce(cb.bucket, ca.bucket) AS bucket,
           coalesce(cb.n_rows, 0) AS n_before,
           coalesce(ca.n_rows, 0) AS n_after,
           coalesce(cb.content_sum, 0) AS sum_before,
           coalesce(ca.content_sum, 0) AS sum_after,
           coalesce(cb.content_xor, 0) AS xor_before,
           coalesce(ca.content_xor, 0) AS xor_after
         FROM cb FULL OUTER JOIN ca ON cb.bucket = ca.bucket
         WHERE cb.n_rows IS DISTINCT FROM ca.n_rows
           OR cb.content_sum IS DISTINCT FROM ca.content_sum
           OR cb.content_xor IS DISTINCT FROM ca.content_xor
         ORDER BY bucket""",

    "audit_bucket_diff_keys" ->
      s"""WITH after AS ($ordersAfterSql),
           cb AS (${bucketCkSql("orders")}),
           ca AS (${bucketCkSql("after")}),
           dirty AS (SELECT coalesce(cb.bucket, ca.bucket) AS bucket
             FROM cb FULL OUTER JOIN ca ON cb.bucket = ca.bucket
             WHERE cb.n_rows IS DISTINCT FROM ca.n_rows
               OR cb.content_sum IS DISTINCT FROM ca.content_sum
               OR cb.content_xor IS DISTINCT FROM ca.content_xor),
           db AS (${digestSql("orders")}
             AND ${bucketExpr} IN (SELECT bucket FROM dirty)),
           da AS (${digestSql("after")}
             AND ${bucketExpr} IN (SELECT bucket FROM dirty))
         SELECT coalesce(db.o_orderkey, da.o_orderkey) AS o_orderkey,
           CASE WHEN da.d IS NULL THEN 'removed'
                WHEN db.d IS NULL THEN 'added'
                WHEN db.d <> da.d THEN 'changed' END AS status
         FROM db FULL OUTER JOIN da ON db.o_orderkey = da.o_orderkey
         WHERE (CASE WHEN da.d IS NULL THEN 'removed'
                WHEN db.d IS NULL THEN 'added'
                WHEN db.d <> da.d THEN 'changed' END) IS NOT NULL
         ORDER BY o_orderkey""",

    "join_salted" ->
      """SELECT l_orderkey, l_linenumber, s_name, s_acctbal
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY l_orderkey, l_linenumber, s_name""",

    "join_bloom_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT')
         ORDER BY l_orderkey, l_linenumber""",

    "cdc_incremental_join" ->
      s"""WITH after AS (
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           WHERE o_orderkey % $JDelMod <> 0 AND o_orderkey % $JUpdMod <> 0
           UNION ALL
           SELECT o_orderkey, o_custkey % $JRekeyMod + 1,
             o_totalprice + 10.0
           FROM orders
           WHERE o_orderkey % $JUpdMod = 0 AND o_orderkey % $JDelMod <> 0
           UNION ALL
           SELECT o_orderkey + $insOffsetSql, o_custkey % $JRekeyMod + 1,
             o_totalprice
           FROM orders WHERE o_orderkey % $JInsMod = 0)
         SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
         FROM after JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",

    "text_classifier_train" ->
      s"""WITH $nbModelCtes
         SELECT token, c_pos, c_neg, round(ratio, 6) AS ratio
         FROM model ORDER BY token""",

    "text_classifier_score" ->
      s"""WITH $nbModelCtes,
           sc AS (SELECT doc_id, unnest(t) AS token FROM toks
             WHERE doc_id % $NbHoldoutMod = 0),
           joined AS (SELECT doc_id, coalesce(m.ratio, 0.5) AS r
             FROM sc LEFT JOIN model m USING (token)),
           scored AS (SELECT doc_id,
               floor(avg(r) * 10000 + 0.5) / 10000 AS nb_score
             FROM joined GROUP BY doc_id)
         SELECT d.doc_id, d.lang,
           coalesce(s.nb_score, 0.5) AS nb_score,
           coalesce(s.nb_score, 0.5) > 0.5 AS nb_pred
         FROM (SELECT doc_id, lang FROM documents
           WHERE doc_id % $NbHoldoutMod = 0) d
         LEFT JOIN scored s USING (doc_id)
         ORDER BY d.doc_id""",

    "stream_anomaly" -> {
      val k = java.lang.Double.toString(AnomK)
      s"""WITH RECURSIVE e AS (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, event_id, value, rn,
             1::BIGINT AS n, value AS mean, 0.0::DOUBLE AS m2,
             CAST(NULL AS DOUBLE) AS z, false AS a
           FROM e WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.event_id, e.value, e.rn,
             r.n + 1,
             r.mean + (e.value - r.mean) / (r.n + 1),
             r.m2 + (e.value - r.mean) * (e.value
               - (r.mean + (e.value - r.mean) / (r.n + 1))),
             CASE WHEN r.n >= $AnomMinN AND r.m2 > 0 THEN
               floor((e.value - r.mean) / sqrt(r.m2 / (r.n - 1))
                 * 1000000 + 0.5) / 1000000 END,
             CASE WHEN r.n >= $AnomMinN AND r.m2 > 0 THEN
               abs((e.value - r.mean) / sqrt(r.m2 / (r.n - 1))) > $k
             ELSE false END
           FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, event_id, value, z, a AS is_anomaly
         FROM r ORDER BY event_id"""
    },

    "stream_ewma" -> {
      val a = java.lang.Double.toString(EwmaAlpha)
      val om = java.lang.Double.toString(1.0 - EwmaAlpha)
      s"""WITH RECURSIVE e AS (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, event_id, value, rn, value AS s
           FROM e WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.event_id, e.value, e.rn,
             $a * e.value + $om * r.s
           FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, event_id, value,
           floor(s * 1000000 + 0.5) / 1000000 AS ewma_rec
         FROM r ORDER BY event_id"""
    },

    "text_strip_dup_spans" ->
      s"""WITH $stripSpanCtes
         SELECT doc_id, n_tokens, n_removed, clean_text
         FROM cleanv ORDER BY doc_id""",

    "pipeline_rag" -> {
      val fuse = s"""round(coalesce(1.0 / ($RrfC + rank_sparse), 0.0) +
             coalesce(1.0 / ($RrfC + rank_dense), 0.0), 6)"""
      s"""WITH $stripSpanCtes,
           ${Round7.bm25Ctes(Round7.Bm25Terms, "cleanv", "clean_text")},
           bm AS (SELECT doc_id,
               round(${Round7.bm25ScoreExpr(Round7.Bm25Terms)}, 4) + 0.0
                 AS bm25
             FROM f, s),
           sr AS (SELECT doc_id, row_number()
               OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS rank_sparse
             FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id
               LIMIT $RrfN) t),
           q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
             WHERE vec_id = 0),
           dn AS (SELECT vec_id AS doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qv), 4)
                 + 0.0 AS sim
             FROM embeddings, q),
           dr AS (SELECT doc_id, row_number()
               OVER (ORDER BY sim DESC, doc_id)::BIGINT AS rank_dense
             FROM (SELECT * FROM dn ORDER BY sim DESC, doc_id
               LIMIT $RrfN) t),
           fu AS (SELECT coalesce(sr.doc_id, dr.doc_id) AS doc_id,
               rank_sparse, rank_dense, $fuse AS rrf
             FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
             ORDER BY rrf DESC, doc_id LIMIT $RrfK),
           pk AS (SELECT fu.*,
               CASE WHEN trim(cv.clean_text) = '' THEN 0
                 ELSE len(string_split_regex(trim(cv.clean_text), '\\s+'))
                 END AS n_tok
             FROM fu JOIN cleanv cv USING (doc_id)),
           run AS (SELECT pk.*, sum(n_tok)
               OVER (ORDER BY rrf DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum FROM pk)
         SELECT doc_id, rank_sparse, rank_dense, rrf,
           n_tok::BIGINT AS n_tok, cum::BIGINT AS cum_tokens
         FROM run WHERE cum <= $RagBudget
         ORDER BY rrf DESC, doc_id"""
    },

    "window_ewma" ->
      s"""SELECT event_id, user_id, value, $ewmaExprSql AS ewma
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""",

    "pipeline_rag_rerank" -> {
      val fuse = s"""round(coalesce(1.0 / ($RrfC + rank_sparse), 0.0) +
             coalesce(1.0 / ($RrfC + rank_dense), 0.0), 6)"""
      s"""WITH $stripSpanCtes,
           ${Round7.bm25Ctes(Round7.Bm25Terms, "cleanv", "clean_text")},
           bm AS (SELECT doc_id,
               round(${Round7.bm25ScoreExpr(Round7.Bm25Terms)}, 4) + 0.0
                 AS bm25
             FROM f, s),
           sr AS (SELECT doc_id, row_number()
               OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS rank_sparse
             FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id
               LIMIT $RrfN) t),
           q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
             WHERE vec_id = 0),
           dn AS (SELECT vec_id AS doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[], qv), 4)
                 + 0.0 AS sim
             FROM embeddings, q),
           dr AS (SELECT doc_id, row_number()
               OVER (ORDER BY sim DESC, doc_id)::BIGINT AS rank_dense
             FROM (SELECT * FROM dn ORDER BY sim DESC, doc_id
               LIMIT $RrfN) t),
           fu AS (SELECT coalesce(sr.doc_id, dr.doc_id) AS doc_id,
               rank_sparse, rank_dense, $fuse AS rrf
             FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id
             ORDER BY rrf DESC, doc_id LIMIT $RrfK),
           $nbModelCtes,
           sc AS (SELECT t.doc_id, unnest(t.t) AS token
             FROM toks t JOIN fu ON t.doc_id = fu.doc_id),
           scs AS (SELECT sc.doc_id,
               floor(avg(coalesce(model.ratio, 0.5)) * 10000 + 0.5)
                 / 10000 AS nb_score
             FROM sc LEFT JOIN model ON sc.token = model.token
             GROUP BY 1)
         SELECT fu.doc_id, rrf,
           coalesce(scs.nb_score, 0.5) AS nb_score,
           coalesce(scs.nb_score, 0.5) > 0.5 AS nb_pred,
           floor(rrf * coalesce(scs.nb_score, 0.5) * 1000000 + 0.5)
             / 1000000 AS final_score
         FROM fu LEFT JOIN scs ON fu.doc_id = scs.doc_id
         ORDER BY final_score DESC, fu.doc_id"""
    },

    "scalar_hilbert" -> hilbertOracleSql(HilbertBits),

    "layout_boxes" -> layoutBoxesOracleSql(HilbertBits),

    "audit_drift_psi_grouped" ->
      """WITH c AS (SELECT event_type, quantile_cont(value,
           [0.2, 0.4, 0.6, 0.8]) AS cuts FROM events GROUP BY 1),
         cur AS (SELECT event_type, CASE WHEN event_type = 'click'
             THEN value * 1.2 ELSE value END AS value
           FROM events
           UNION ALL
           SELECT '__new' AS event_type, value * 0.5 AS value
           FROM events WHERE event_type = 'click'),
         bb AS (SELECT e.event_type,
             1 + len(list_filter(c.cuts, x -> e.value > round(x, 6)))
               AS bucket
           FROM events e JOIN c ON e.event_type = c.event_type),
         cb AS (SELECT cur.event_type,
             1 + len(list_filter(c.cuts, x -> cur.value > round(x, 6)))
               AS bucket
           FROM cur LEFT JOIN c ON cur.event_type = c.event_type),
         pb AS (SELECT event_type, bucket,
             floor(count(*)::DOUBLE / sum(count(*))
               OVER (PARTITION BY event_type) * 1000000 + 0.5) / 1000000
               AS p_base
           FROM bb GROUP BY 1, 2),
         pc AS (SELECT event_type, bucket,
             floor(count(*)::DOUBLE / sum(count(*))
               OVER (PARTITION BY event_type) * 1000000 + 0.5) / 1000000
               AS p_cur
           FROM cb GROUP BY 1, 2)
         SELECT coalesce(pb.event_type, pc.event_type) AS event_type,
           coalesce(pb.bucket, pc.bucket)::BIGINT AS bucket,
           coalesce(p_base, 0.0) AS p_base,
           coalesce(p_cur, 0.0) AS p_cur,
           CASE WHEN coalesce(p_base, 0.0) > 0
               AND coalesce(p_cur, 0.0) > 0 THEN
             floor((p_cur - p_base) * ln(p_cur / p_base) * 1000000 + 0.5)
               / 1000000 END AS psi
         FROM pb FULL OUTER JOIN pc
           ON pb.event_type = pc.event_type AND pb.bucket = pc.bucket
         ORDER BY event_type, bucket NULLS FIRST""",

    "audit_drift_psi" ->
      """WITH c AS (SELECT quantile_cont(o_totalprice,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
         FROM orders),
         cur AS (SELECT CASE WHEN o_custkey % 4 = 0
             THEN o_totalprice * 1.1 ELSE o_totalprice END AS v
           FROM orders),
         bb AS (SELECT 1 + len(list_filter(c.cuts,
             x -> o_totalprice > round(x, 6))) AS bucket FROM orders, c),
         cb AS (SELECT 1 + len(list_filter(c.cuts,
             x -> v > round(x, 6))) AS bucket FROM cur, c),
         pb AS (SELECT bucket, floor(count(*)::DOUBLE
             / (SELECT count(*) FROM bb) * 1000000 + 0.5) / 1000000
             AS p_base
           FROM bb GROUP BY 1),
         pc AS (SELECT bucket, floor(count(*)::DOUBLE
             / (SELECT count(*) FROM cb) * 1000000 + 0.5) / 1000000
             AS p_cur
           FROM cb GROUP BY 1)
         SELECT coalesce(pb.bucket, pc.bucket)::BIGINT AS bucket,
           coalesce(p_base, 0.0) AS p_base,
           coalesce(p_cur, 0.0) AS p_cur,
           CASE WHEN coalesce(p_base, 0.0) > 0
               AND coalesce(p_cur, 0.0) > 0 THEN
             floor((p_cur - p_base) * ln(p_cur / p_base) * 1000000 + 0.5)
               / 1000000 END AS psi
         FROM pb FULL OUTER JOIN pc ON pb.bucket = pc.bucket
         ORDER BY bucket""",

    "window_anomaly" -> {
      val k = java.lang.Double.toString(AnomK)
      s"""WITH e AS (SELECT event_id, user_id, ts, value,
             $ewmaExprSql AS ewma,
             count(value) OVER t AS n,
             sum(value) OVER t AS s1,
             sum(value * value) OVER t AS s2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             t AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN $EwmaSpan PRECEDING AND 1 PRECEDING)),
         f AS (SELECT event_id, user_id, value, ewma, n, s1, s2,
             lag(ewma, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS fc
           FROM e),
         g AS (SELECT *,
             sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) AS sigma
           FROM f)
         SELECT event_id, user_id, value, ewma,
           floor(fc * 1000000 + 0.5) / 1000000 AS forecast,
           CASE WHEN fc IS NOT NULL AND n >= $AnomMinN THEN
             floor((abs(value - fc) - $k * sigma) * 1000000 + 0.5)
               / 1000000 END AS anom_score,
           coalesce((CASE WHEN fc IS NOT NULL AND n >= $AnomMinN THEN
             floor((abs(value - fc) - $k * sigma) * 1000000 + 0.5)
               / 1000000 END) > 0, false) AS is_anomaly
         FROM g ORDER BY event_id"""
    })
}
