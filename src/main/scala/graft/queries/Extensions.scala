package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.Checkpoints
import graft.similarity.Similarity
import graft.streaming.EventWindows
import graft.textanalysis.TextAnalysis

/** North-star extension queries: dedup, similarity search, text analysis,
  * multimodal plumbing, event-time windows. MinHash/SimHash gates run
  * the md5-keyed replayable family so DuckDB recomputes their exact
  * candidate sets (the xx64 production family is spec-pinned instead);
  * `agg_approx_distinct` hash-matches via its error-bound booleans (each
  * engine checks its OWN sketch against the exact count it recomputes).
  */
object Extensions extends GateBatch {

  /** The `dedup_cosine_pairs` gate's banded sign-LSH plan: 4 hash tables
    * x 6 hyperplanes (dims 0-23). Pinned (not [[Similarity.signBandPlanFor]]
    * auto-scaled) because the DuckDB oracle is a static SQL string — both
    * the Spark query and the oracle SQL derive from THIS constant, so the
    * two sides cannot drift. Production callers size the plan from corpus
    * count via `signBandPlanFor`. */
  private[graft] val CosineBandDims: Seq[Seq[Int]] =
    graft.similarity.Similarity.signBandDims(bands = 4, bitsPerBand = 6, dim = 64)

  /** The windowed near-dup pair graph over `documents`, pinned — read
    * by `dedup_components`/`dedup_component_sizes` (via
    * [[componentsFor]]), `graph_jaccard` and `curate_split_leakage`.
    * Each call builds and pins afresh: a gate is timed and answered
    * from the tables as they are now, never from an earlier call. */
  private[queries] def neardupPairsFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    neardupPairs(tbl(s, dir, "documents"))

  private def neardupPairs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Checkpoints.pin(
      Dedup.jaccardPairsWindowed(docs, "doc_id", "text", window = 25,
          threshold = 0.8)
        .select(col("id_a"), col("id_b")))

  /** The near-dup components (doc_id, component_id), pinned by
    * `connectedComponents` itself: its driver union-find's joined
    * labels under `Dedup.DriverPairCap` pairs, else its fixpoint's
    * final round. `documents` is read once for the pairs and the node
    * set: every read of a parquet table runs its own schema job. */
  private def componentsFor(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame = {
    val docs = tbl(s, dir, "documents")
    Dedup.connectedComponents(neardupPairs(docs), "id_a", "id_b", docs,
      "doc_id")
  }

  /** The customer–supplier trade MULTIGRAPH (one edge per lineitem —
    * multiplicity matters to PageRank out-degrees and label-prop
    * votes), pinned, for `graph_pagerank`/`graph_ppr`/`graph_label_prop`
    * /`graph_kcore`, which each re-encode the same (cust, supp) pairs.
    * Columns: (cust LONG, supp LONG). */
  private[queries] def tradeEdgesFor(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Checkpoints.pin(
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp")))

  /** One band's bucket id as DuckDB SQL (1-based array index, bit weights
    * 1,2,4,... exactly as [[Similarity.lshBucket]]). */
  private def signBandSql(dims: Seq[Int]): String =
    dims.zipWithIndex.map { case (d, i) =>
      s"(CASE WHEN embedding[${d + 1}] > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB CTEs recomputing [[Dedup.minhashNearDupsMd5]]'s signatures
    * and band buckets from the SAME `md5AffineCoeffs`/`Md5P` constants
    * the Spark plan inlines — the two sides cannot drift. Yields CTEs
    * `sets` (doc word-sets), `bands` (doc_id, b, bucket). */
  private[queries] def md5MinhashCtes(numHashes: Int, bands: Int,
                                      corpus: String = "documents"): String = {
    val rows = numHashes / bands
    val mins = Dedup.md5AffineCoeffs(numHashes).map { case (a, b) =>
      s"min((m * $a + $b) % ${Dedup.Md5P})"
    }.mkString(", ")
    s"""sets AS (SELECT doc_id,
           list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ws
         FROM $corpus),
         words AS (SELECT doc_id, unnest(ws) AS w FROM sets),
         wh AS (SELECT doc_id,
           CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS m FROM words),
         sig AS (SELECT doc_id, [$mins] AS sig FROM wh GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
           CAST(('0x' || substr(md5(b::VARCHAR || '_' ||
             array_to_string(sig[b*$rows+1 : b*$rows+$rows], '_')), 1, 15))
             AS BIGINT) AS bucket
         FROM sig CROSS JOIN generate_series(0, ${bands - 1}) AS t(b))"""
  }

  /** DuckDB SQL for [[Dedup.corpusOverlapMd5]] over two source slices —
    * signature mins and the agree-count chain generated from the SAME
    * coefficients the Spark plan inlines. */
  private def corpusOverlapSql(srcA: String, srcB: String,
                               numHashes: Int): String = {
    val cs = Dedup.md5AffineCoeffs(numHashes)
    def mins(p: String) = cs.zipWithIndex.map { case ((a, b), i) =>
      s"min((m * $a + $b) % ${Dedup.Md5P}) AS $p$i"
    }.mkString(", ")
    val agree = (0 until numHashes)
      .map(i => s"(CASE WHEN sa.a$i = sb.b$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH wa AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text),
           '\\s+')) AS w FROM documents WHERE source = '$srcA'),
       wb AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text),
           '\\s+')) AS w FROM documents WHERE source = '$srcB'),
       ma AS (SELECT CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS m
           FROM wa),
       mb AS (SELECT CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS m
           FROM wb),
       sa AS (SELECT ${mins("a")} FROM ma),
       sb AS (SELECT ${mins("b")} FROM mb),
       ag AS (SELECT $agree AS n_agree FROM sa, sb),
       sz AS (SELECT (SELECT count(*) FROM wa) AS na,
                     (SELECT count(*) FROM wb) AS nb,
                     (SELECT count(*) FROM wa JOIN wb ON wa.w = wb.w) AS ni)
       SELECT n_agree, round(n_agree::DOUBLE / $numHashes, 3) AS estimate,
         round(ni::DOUBLE / (na + nb - ni), 3) AS exact_jaccard
       FROM ag, sz"""
  }

  /** DuckDB CTEs recomputing [[Dedup.simhashMd5]]'s 60-bit simhash:
    * yields CTE `sh` (doc_id, simhash). */
  private def md5SimhashCtes: String = {
    val votes = (0 until 60).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val bits = (0 until 60).map(i =>
      s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""words AS (SELECT doc_id, unnest(list_distinct(
           regexp_split_to_array(trim(text), '\\s+'))) AS w
         FROM documents),
         wh AS (SELECT doc_id,
           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM words),
         v AS (SELECT doc_id, $votes FROM wh GROUP BY doc_id),
         sh AS (SELECT doc_id, $bits AS simhash FROM v)"""
  }

  val defs: Map[String, Q] = Map(
    // exact dedup on the canonical word-set digest
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("dedup_key")),

    // exact windowed Jaccard near-dup pairs (deterministic variant)
    "dedup_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsWindowed(tbl(s, dir, "documents"), "doc_id", "text",
        window = 25, threshold = 0.8)
        .orderBy("id_a", "id_b")),

    // MinHash/LSH candidate generation + Jaccard verification. Gated on
    // the md5 affine family so DuckDB replays the exact candidate set
    // (signatures, buckets, verified pairs); the xx64 production family
    // runs the identical fused join and is pinned by InternalOracleSpec
    // + DedupEquivalenceSpec.
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashNearDupsMd5(tbl(s, dir, "documents"), "doc_id", "text",
        threshold = 0.9, numHashes = 64, bands = 8)
        .orderBy("doc_id_a", "doc_id_b")),

    // SimHash per document (md5 60-bit replayable family) + block key
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashMd5(tbl(s, dir, "documents"), "doc_id", "text")
        .withColumn("block", shiftrightunsigned(col("simhash"), 44))
        .orderBy("doc_id")),

    // single-pass LSH dedup decision: O(n) representative assignment
    "dedup_minhash_keep" -> ((s, dir) =>
      Dedup.minhashRepresentativesMd5(tbl(s, dir, "documents"), "doc_id",
        "text")
        .orderBy("doc_id")),

    // incremental batch-vs-index NEAR-dup admission (the near-dup
    // sibling of dedup_incremental): doc_id<250 is the standing index,
    // the rest arrives as the new batch; the oracle recomputes the md5
    // band buckets from the same constants and brute-verifies Jaccard
    "dedup_incremental_near" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.incrementalNearDupMd5(
        docs.filter(col("doc_id") >= 250),
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        threshold = 0.8)
        .orderBy("doc_id")
    }),

    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDupsMd5(tbl(s, dir, "documents"), "doc_id", "text",
        maxHamming = 16)
        .orderBy("doc_id_a", "doc_id_b")),

    // batch replay of the streaming BucketClaim store: synthetic arrival
    // times with COLLISIONS ((id*37) mod 97 — the (ts, id) tie-break is
    // load-bearing), md5 band buckets so DuckDB replays the claim
    // resolution; kept = docs owning all 8 of their buckets
    "stream_neardup_keep" -> ((s, dir) => {
      val banded = Dedup.md5BandedDocs(tbl(s, dir, "documents"), "doc_id",
          "text", numHashes = 64, bands = 8)
        .select(col("doc_id").as("id"),
          pmod(col("doc_id") * lit(37L), lit(97L)).as("ts"),
          col("band"), col("bucket"))
      graft.streaming.StreamingDedup.nearDupKeepReplay(banded, bands = 8)
        .select(col("id").as("doc_id"), col("ts"))
        .orderBy("doc_id")
    }),

    // brute-force cosine of every vector against the vec_id=0 query
    "sim_cosine_all" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Similarity.cosineToQuery(emb, "vec_id", "embedding", q, "qvec")
        .withColumn("sim", round(col("sim"), 4) + lit(0.0)) // kill -0.0
        .orderBy("vec_id")
    }),

    // brute-force top-k (deterministic: rounded sim, id tiebreak)
    "sim_cosine_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Similarity.topK(emb, "vec_id", "embedding", q, "qvec", k = 20)
        .withColumn("sim", col("sim") + lit(0.0))
    }),

    // symmetric int8 embedding quantization (4x storage/shuffle shrink),
    // exploded per dimension so every quantized byte is value-pinned
    "sim_quantize" -> ((s, dir) => {
      val q = graft.similarity.Quantize.int8(tbl(s, dir, "embeddings"),
        "embedding")
      q.select(col("vec_id"), col("qscale"), posexplode(col("qvec")))
        .select(col("vec_id"), col("pos").as("dim"),
          col("col").cast("int").as("qval"), col("qscale"))
        .orderBy("vec_id", "dim")
    }),

    // batch top-k similarity join: 20 query vectors against the corpus
    // in ONE scan; per-query top-5 via the bounded map-side aggregator
    "sim_topk_join" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.topKJoin(emb, "vec_id", "embedding", q, "query_id", "qvec",
        k = 5)
        .orderBy("query_id", "vec_id")
    }),

    // IVF ANN: coarse k-means quantizer + inverted-list probe. With
    // nprobe = nlist the probe covers every list, so the result is
    // EXACTLY brute-force top-k — which is what the DuckDB oracle
    // checks; production uses nprobe << nlist + partition pruning.
    "sim_ann_ivf" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val (assigned, cents) = Similarity.ivfIndex(
        emb, "vec_id", "embedding", dim = 64, nlist = 8, iters = 1)
      Similarity.ivfTopK(assigned, cents, "vec_id", "embedding",
        q, "qvec", nprobe = 8, k = 20)
        .withColumn("sim", col("sim") + lit(0.0))
    }),

    // LSH-bucketed ANN: probe only the query's sign-bucket
    "sim_ann_lsh" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Similarity.annTopK(emb, "vec_id", "embedding", q, "qvec",
        dims = Seq(0, 7, 19, 33), k = 10)
        .withColumn("sim", col("sim") + lit(0.0))
    }),

    // multi-probe variant: query bucket + every Hamming-1 neighbor bucket
    "sim_ann_lsh_multiprobe" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      Similarity.annTopKMultiProbe(emb, "vec_id", "embedding", q, "qvec",
        dims = Seq(0, 7, 19, 33), k = 10)
        .withColumn("sim", col("sim") + lit(0.0))
    }),

    // embedding-cosine near-dup: banded multi-table sign-LSH blocking
    // (4 tables x 6 hyperplanes), exact-cosine verification fused into
    // the join condition — the minhashNearDups shape on vectors
    "dedup_cosine_pairs" -> ((s, dir) =>
      Similarity.cosineNearDups(tbl(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.3, bandDims = CosineBandDims)
        .select(col("vec_id_a").as("id_a"), col("vec_id_b").as("id_b"),
          col("sim"))
        .orderBy("id_a", "id_b")),

    // semi-structured column: JSON property extraction from events.props
    "scalar_json_extract" -> ((s, dir) =>
      tbl(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
        .orderBy("event_id")),

    // per-label vector centroids via a typed Aggregator (IVF quantizer
    // reduction); long format (label, dim, value) for oracle comparison
    "agg_centroids" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
        .select(col("label"), Similarity.toVec(col("embedding")).as("v"))
        .as[(Int, Seq[Double])]
      val agg = new graft.similarity.VectorCentroid(64)
        .toColumn.name("centroid")
      emb.groupByKey(_._1).mapValues(_._2).agg(agg)
        .toDF("label", "centroid")
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "cval")))
        // + 0.0 normalizes IEEE negative zero (engines disagree on the
        // sign of a rounded -0.00004, and -0.0 hashes/sorts != 0.0)
        .withColumn("cval", round(col("cval"), 4) + lit(0.0))
        .orderBy("label", "dim")
    }),

    // text analysis
    "text_token_count" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")),

    "text_quality" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    "text_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // multimodal: binary payload -> partition-parallel decoded features
    "mm_decode_meta" -> ((s, dir) =>
      Multimodal.documentFeatures(s, tbl(s, dir, "documents"))
        .toDF().orderBy("id")),

    // multimodal REAL kernel: per-doc PNG fixture (deterministic pixel
    // formula) -> actual javax.imageio decode -> nearest-neighbor 8x8
    // resample -> position-weighted checksum. The oracle replays the
    // same integers straight from the formula + the NN index math, so a
    // decoder with wrong row order / bit depth / color management fails
    // the hash.
    "mm_decode_real" -> ((s, dir) =>
      Multimodal.imageRoundTrip(tbl(s, dir, "documents"), "doc_id", 8, 8)
        .toDF().orderBy("doc_id")),

    // event-time windows (batch = oracle twin of the streaming path)
    "stream_tumbling" -> ((s, dir) =>
      EventWindows.tumbling(tbl(s, dir, "events"), "1 hour")
        .orderBy("window_start", "event_type")),

    "stream_sliding" -> ((s, dir) =>
      EventWindows.sliding(tbl(s, dir, "events"), "1 hour", "30 minutes")
        .orderBy("window_start")),

    "stream_session" -> ((s, dir) =>
      EventWindows.sessions(tbl(s, dir, "events"), "30 minutes")
        .orderBy("user_id", "session_start")),

    // per-user greedy funnel progress: the StepDone rows the streaming
    // tracker emits under event-time-ordered replay (batch twin —
    // streaming == replay is pinned in StreamingFunnelSpec); the oracle
    // re-derives every (user, step, counted-ts) from the same step list.
    // Times run at MICROsecond precision on both sides (integral div —
    // DuckDB holds parquet nanos at us internally, so ns-strict
    // comparisons would diverge on sub-us ties)
    "stream_funnel" -> ((s, dir) =>
      graft.streaming.StreamingFunnel.progressReplay(
          tbl(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
          "user_id", "event_type", "ts_us", Analytics7.FunnelSteps)
        .orderBy("user_id", "step_idx")),

    // custom arbitrary-state sessionization (flatMapGroups batch twin of
    // the flatMapGroupsWithState streaming operator)
    "stream_session_custom" -> ((s, dir) => {
      val ds = graft.streaming.SessionState.fromEventsTable(s, tbl(s, dir, "events"))
      graft.streaming.SessionState
        .batchSessions(s, ds, 30L * 60 * 1000000000L, Int.MaxValue)
        .toDF()
        .withColumn("sum_value", round(col("sum_value"), 2))
        .orderBy("user_id", "session_start_sec")
    }),

    // deterministic distributed sampling, md5-keyed so the exact sample
    // is re-derivable by the DuckDB oracle (full hash-match). The seed is
    // the unique 4-int key: bottom-k ties at the cut would otherwise be
    // broken arbitrarily ((l_orderkey, l_linenumber) alone has dup groups
    // whose rows DIFFER in price).
    "sample_bottomk" -> ((s, dir) =>
      graft.operators.BottomKSample(tbl(s, dir, "lineitem"), 1000,
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        hash = graft.operators.Md5)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")),

    "sample_hash" -> ((s, dir) =>
      graft.operators.HashSample(tbl(s, dir, "lineitem"), 0.25,
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        hash = graft.operators.Md5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")),

    // deterministic stratified sample: fixed quota per order status
    "sample_stratified" -> ((s, dir) =>
      graft.operators.StratifiedSample(tbl(s, dir, "orders"), 50,
        Seq("o_orderstatus"), Seq("o_orderkey"), hash = graft.operators.Md5)
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "o_orderkey")),

    // deterministic global training-order shuffle: distributed rank over
    // an epoch-seeded md5 permutation — two-level bucketed rank, never a
    // single-task corpus sort
    "shuffle_rank" -> ((s, dir) =>
      graft.operators.GlobalShuffleRank(
        tbl(s, dir, "documents").select("doc_id"), Seq("doc_id"),
        epoch = 7L, hash = graft.operators.Md5)
        .orderBy("doc_id")),

    // deterministic domain-mixture sample: exact per-language quotas
    // toward a target training mix (en 50% / zh 20% / de 30% of 120)
    "sample_mixture" -> ((s, dir) =>
      graft.operators.MixtureSample(tbl(s, dir, "documents"),
        "lang", Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.3), total = 120,
        Seq("doc_id"), hash = graft.operators.Md5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")),

    // CDC MERGE: events replayed as a changelog over a customer snapshot
    // (error = delete, else upsert of the balance; latest (ts, event_id)
    // wins). Base drops custkey%7==0 so some changes exercise the insert
    // path; single changelog shuffle via max_by, no windows
    "cdc_merge" -> ((s, dir) => {
      val base = tbl(s, dir, "customer").filter(col("c_custkey") % 7 =!= 0)
      val changes = tbl(s, dir, "events").select(
        col("user_id").as("c_custkey"),
        when(col("event_type") === "error", "D").otherwise("U").as("__op"),
        col("ts"), col("event_id"),
        col("value").as("c_acctbal"))
      graft.operators.CdcMerge(base, changes, "c_custkey", "__op",
        seqCols = Seq("ts", "event_id"), setCols = Seq("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // transitive near-dup groups: connected components over the exact
    // windowed-Jaccard pair list (DuckDB replays it as a recursive CTE)
    "dedup_components" -> ((s, dir) =>
      componentsFor(s, dir).orderBy("doc_id")),

    // span-level exact-substring duplication report (Lee et al. signal):
    // per doc, the count and fraction of its 8-word spans occurring
    // anywhere else in the corpus; md5 span fingerprints replay in SQL
    "text_dup_spans" -> ((s, dir) =>
      TextAnalysis.duplicatedSpans(tbl(s, dir, "documents"), "doc_id",
        "text", n = 8)
        .orderBy("doc_id")),

    // component-size distribution of the near-dup graph — the dup-cluster
    // profile ("how big do duplicate families get") a curation run reports;
    // derived from the SAME materialized components as dedup_components
    "dedup_component_sizes" -> ((s, dir) =>
      componentsFor(s, dir)
        .groupBy("component_id").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_components"))
        .orderBy("csize")),

    // round-8 curation capstone: span-dup filter (Lee et al. policy) ->
    // one-pass md5 near-dup keep -> deterministic train split ->
    // per-language corpus report; the oracle recomposes every stage
    "pipeline_curation2" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      // 1. drop span-duplicated docs (>= half their 8-word spans seen
      //    elsewhere); docs too short to have spans pass through
      val spanReport = TextAnalysis.duplicatedSpans(docs, "doc_id", "text",
        n = 8)
      val dupDocs = spanReport.filter(col("dup_fraction") >= 0.5)
        .select("doc_id")
      // stage-1 survivors feed BOTH the minhash pass and the stage-2
      // probe: materialize once (persist/checkpoint at cluster scale)
      // or the span-duplication analysis above runs per reader
      val s1 = docs.join(dupDocs, Seq("doc_id"), "left_anti")
        .transform(d => graft.operators.Checkpoints.pin(d))
      // 2. near-dup templates: keep each bucket-cluster's min-id doc
      val s2 = s1.join(
        Dedup.minhashRepresentativesMd5(s1, "doc_id", "text")
          .filter(col("is_kept")).select("doc_id"),
        Seq("doc_id"))
      // 3. reproducible 80% train cut
      val s3 = graft.operators.DeterministicSplit(s2, Seq("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
      // 4. the mixing report a data build publishes
      s3.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("total_tokens"))
        .orderBy("lang")
    }),

    // corpus-level vocabulary overlap of two sources: replayable MinHash
    // resemblance estimate next to the exact Jaccard it approximates
    "dedup_corpus_overlap" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup.corpusOverlapMd5(d.filter(col("source") === "src0"),
        d.filter(col("source") === "src1"), "text", numHashes = 64)
    }),

    // per-node triangle counts on the near-dup pair graph (dup-clique
    // structure): oriented wedge join — a<b<c by pair construction, so
    // each triangle is found exactly once with two hash joins
    "graph_triangles" -> ((s, dir) => {
      // materialize the edge list ONCE before the wedge joins — the
      // plan references it three times, and without truncation each
      // leg re-runs the full shingle+Jaccard pair generation (the
      // expensive part; edges are tiny next to the corpus). At cluster
      // scale this is persist()/reliable checkpoint of the edge list.
      val e = Dedup.jaccardPairsWindowed(tbl(s, dir, "documents"),
          "doc_id", "text", window = 25, threshold = 0.8)
        .select(col("id_a").as("a"), col("id_b").as("b"))
        .transform(d => graft.operators.Checkpoints.pin(d))
      val tri = e.join(e.toDF("b", "c"), Seq("b"))
        .join(e.toDF("a", "c"), Seq("a", "c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy("node")
    }),

    // corpus n-gram frequency: top-50 bigrams (contamination/boilerplate
    // statistics for a training corpus)
    "text_top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(tbl(s, dir, "documents"), "text", 2, 50)
        .orderBy(col("cnt").desc, col("ngram"))),

    // benchmark decontamination: distinct 3-gram overlap between each
    // corpus doc and a held-out "benchmark" slice (doc_id % 97 == 0),
    // matched through a broadcast semi-join of the benchmark gram set
    "decon_ngram_hits" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.textanalysis.Decontaminate.contaminationHits(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", n = 3)
        .orderBy("doc_id")
    }),

    // same decontamination answer through the scale path: Bloom-filter
    // prefilter keeps the corpus gram stream map-local, exact verify
    // join drops the false positives — results identical by construction
    "decon_bloom" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.textanalysis.Decontaminate.contaminationHitsBloom(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", n = 3)
        .orderBy("doc_id")
    }),

    // corpus-trained bigram-LM quality score (perplexity-filter family):
    // avg add-0.1-smoothed transition probability per doc, log-free for
    // cross-engine bit parity
    "text_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Gopher-style repetition signals: repeated-word share + share of
    // all bigrams taken by the most frequent one
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(tbl(s, dir, "documents"), "doc_id", "text",
        n = 2)
        .orderBy("doc_id")),

    // corpus-level boilerplate removal (CCNet/Gopher line dedup): drop
    // every occurrence of a unit appearing > 20 times corpus-wide,
    // reassemble docs from surviving units; 2-token spans stand in for
    // lines (the synthetic corpus has no newlines)
    "text_boilerplate" -> ((s, dir) =>
      TextAnalysis.dropBoilerplate(tbl(s, dir, "documents"), "doc_id", "text",
        maxCount = 20, splitUnits = t => TextAnalysis.tokenSpans(t, 2),
        sep = " ")
        .orderBy("doc_id")),

    // context-window chunking: 32-token windows, stride 24 (final chunk
    // may be short; short docs yield one chunk)
    "text_chunks" -> ((s, dir) =>
      TextAnalysis.tokenChunks(tbl(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),

    // concat-and-split sequence packing: global token offsets from the
    // bucketed distributed prefix sum (no single-task window), 256-token
    // training sequences
    "text_pack" -> ((s, dir) =>
      TextAnalysis.packSequences(tbl(s, dir, "documents"), "doc_id", "text",
        budget = 256, bucketWidth = 100)
        .orderBy("doc_id")),

    // PII-style redaction: digit runs in the JSON props masked, with a
    // per-row hit audit (RE2-safe pattern, so DuckDB replays it exactly)
    "text_redact" -> ((s, dir) =>
      tbl(s, dir, "events").select(col("event_id"),
        graft.textanalysis.Redact.hitCount(col("props"),
          graft.textanalysis.Redact.DigitRun).as("n_hits"),
        graft.textanalysis.Redact.redact(col("props"),
          graft.textanalysis.Redact.DigitRun, "<NUM>").as("redacted"))
        .orderBy("event_id")),

    // quality-weighted deterministic sampling: each doc keeps with
    // probability = its quality score, decided by md5 so the exact
    // kept-set is re-derivable cross-engine
    "sample_weighted" -> ((s, dir) =>
      graft.operators.WeightedHashSample(
        tbl(s, dir, "documents")
          .withColumn("quality", TextAnalysis.qualityScore(col("text"))),
        col("quality"), Seq("doc_id"), hash = graft.operators.Md5)
        .select("doc_id", "quality")
        .orderBy("doc_id")),

    // top-3 TF-IDF terms per document (log-free IDF for cross-engine
    // bit-parity; see TextAnalysis.tfidfTopTerms)
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(tbl(s, dir, "documents"), "doc_id", "text",
        k = 3)
        .orderBy("doc_id", "word")),

    // range join: events whose value falls in each part's interval,
    // blocked into a hash equi-join (no nested-loop plan)
    "range_join_agg" -> ((s, dir) => {
      val intervals = tbl(s, dir, "part").filter(col("p_partkey") <= 100)
        .select(col("p_partkey"),
          (col("p_size") * 4.0).as("lo"),
          (col("p_size") * 4.0 + 2.0).as("hi"))
      val points = tbl(s, dir, "events").select("event_id", "value")
      graft.operators.RangeJoin
        .pointInInterval(points, intervals, "value", "lo", "hi", blockWidth = 4)
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("p_partkey")
    }),

    // as-of join: each purchase looks up the user's most recent click
    "asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.operators.AsOfJoin(purchases, clicks, Seq("user_id"),
        leftTime = "ts", rightTime = "click_ts",
        payload = Seq("click_ts", "click_value"), tiebreak = Some("click_id"))
        .select(col("user_id"), col("event_id"),
          // micro precision on both sides (DuckDB's ASOF coerces to us);
          // integral div — double division loses ulps at 1e18 ns
          expr("click_ts div 1000").as("click_us"), col("click_value"))
        .orderBy("event_id")
    }),

    // HLL sketch vs the exact count, re-shaped to the engine-checkable
    // invariant: each engine runs its OWN approximate sketch (Spark
    // HLL++, DuckDB HLL) and reports whether it landed within ±10% of
    // the exact count it also computes — the raw sketch values differ
    // by construction, the bound booleans and exact counts hash-match.
    // floor/ceil (not CAST) bound the interval: Spark truncates
    // double→long, DuckDB rounds, so a raw cast would diverge on the
    // edge.
    "agg_approx_distinct" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(
          approx_count_distinct(col("l_partkey")).as("__ap"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_orderkey")).as("__ao"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .select(col("exact_parts"), col("exact_orders"),
          (col("__ap") >= floor(col("exact_parts") * 0.9) &&
            col("__ap") <= ceil(col("exact_parts") * 1.1))
            .as("parts_within_10pct"),
          (col("__ao") >= floor(col("exact_orders") * 0.9) &&
            col("__ao") <= ceil(col("exact_orders") * 1.1))
            .as("orders_within_10pct")))
  )

  /** `stream_funnel` oracle: the greedy strictly-after advance as a
    * chained CTE per step, generated from the SAME step list as the
    * Spark query so the two sides cannot drift. Times are BIGINT
    * MICROseconds on both sides (`epoch_us` ↔ `ts div 1000`): DuckDB
    * holds the parquet nanos at us precision, so a ns-strict comparison
    * would diverge on sub-us ties. */
  private def streamFunnelOracleSql(steps: Seq[String]): String = {
    val ctes = steps.zipWithIndex.map { case (step, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
           WHERE event_type = '$step' GROUP BY user_id)"""
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
           FROM events e JOIN s$i ON e.user_id = s$i.user_id
             AND epoch_us(e.ts) > s$i.t
           WHERE e.event_type = '$step' GROUP BY e.user_id)"""
    }.mkString(",\n       ")
    val selects = steps.indices.map { i =>
      s"""SELECT user_id, CAST(${i + 1} AS INT) AS step_idx, t AS ts
         FROM s${i + 1}"""
    }.mkString(" UNION ALL ")
    s"WITH $ctes $selects ORDER BY user_id, step_idx"
  }

  val oracles: Map[String, String] = Map(
    "stream_funnel" -> streamFunnelOracleSql(Analytics7.FunnelSteps),
    // each engine runs its OWN HLL sketch; the hash-compared output is
    // the exact counts plus the ±10% containment booleans (floor/ceil
    // bounds — CAST truncates in Spark but rounds in DuckDB)
    "agg_approx_distinct" ->
      """SELECT exact_parts, exact_orders,
           ap >= floor(exact_parts * 0.9)
             AND ap <= ceil(exact_parts * 1.1) AS parts_within_10pct,
           ao >= floor(exact_orders * 0.9)
             AND ao <= ceil(exact_orders * 1.1) AS orders_within_10pct
         FROM (SELECT approx_count_distinct(l_partkey) AS ap,
                 count(DISTINCT l_partkey) AS exact_parts,
                 approx_count_distinct(l_orderkey) AS ao,
                 count(DISTINCT l_orderkey) AS exact_orders
               FROM lineitem)""",
    "dedup_exact" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(text), '\s+'))), ' ')) AS dedup_key,
         min(doc_id) AS first_id, count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY dedup_key""",
    "dedup_jaccard_pairs" ->
      """WITH sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(a.s || b.s)), 3) AS jaccard
         FROM sets a JOIN sets b
           ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
         WHERE len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(a.s || b.s)) >= 0.8
         ORDER BY id_a, id_b""",
    // LSH candidates from the replayed md5 signatures, then the exact
    // Jaccard verify — DISTINCT mirrors the engine's first-colliding-band
    // exactly-once rule
    "dedup_minhash_pairs" ->
      s"""WITH ${md5MinhashCtes(64, 8)},
         cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
           FROM bands a JOIN bands c ON a.b = c.b AND a.bucket = c.bucket
             AND a.doc_id < c.doc_id)
         SELECT doc_id_a, doc_id_b,
           round(len(list_intersect(sa.ws, sb.ws))::DOUBLE
             / len(list_distinct(sa.ws || sb.ws)), 3) AS jaccard
         FROM cand
           JOIN sets sa ON sa.doc_id = cand.doc_id_a
           JOIN sets sb ON sb.doc_id = cand.doc_id_b
         WHERE len(list_intersect(sa.ws, sb.ws))::DOUBLE
             / len(list_distinct(sa.ws || sb.ws)) >= 0.9
         ORDER BY doc_id_a, doc_id_b""",
    "dedup_minhash_keep" ->
      s"""WITH ${md5MinhashCtes(64, 8)},
         bmin AS (SELECT b, bucket, min(doc_id) AS bucket_min
           FROM bands GROUP BY b, bucket),
         rep AS (SELECT a.doc_id, min(m.bucket_min) AS rep_id
           FROM bands a JOIN bmin m ON a.b = m.b AND a.bucket = m.bucket
           GROUP BY a.doc_id)
         SELECT doc_id, rep_id, doc_id = rep_id AS is_kept
         FROM rep ORDER BY doc_id""",
    "dedup_incremental_near" ->
      s"""WITH ${md5MinhashCtes(64, 8)},
         bk AS (SELECT doc_id, ws,
             md5(array_to_string(list_sort(ws), ' ')) AS dk FROM sets),
         ex AS (SELECT b.doc_id AS bid, min(i.doc_id) AS exact_min
           FROM bk b JOIN bk i ON b.dk = i.dk AND i.doc_id < 250
           WHERE b.doc_id >= 250 GROUP BY b.doc_id),
         cand AS (SELECT DISTINCT b.doc_id AS bid, i.doc_id AS iid
           FROM bands b JOIN bands i
             ON b.b = i.b AND b.bucket = i.bucket AND i.doc_id < 250
           WHERE b.doc_id >= 250),
         ver AS (SELECT bid, min(iid) AS near_min, max(jr) AS near_j
           FROM (SELECT c.bid, c.iid,
               len(list_intersect(bb.ws, ii.ws))::DOUBLE
                 / len(list_distinct(bb.ws || ii.ws)) AS j,
               round(len(list_intersect(bb.ws, ii.ws))::DOUBLE
                 / len(list_distinct(bb.ws || ii.ws)), 3) AS jr
             FROM cand c JOIN sets bb ON c.bid = bb.doc_id
               JOIN sets ii ON c.iid = ii.doc_id) t
           WHERE j >= 0.8 GROUP BY bid),
         outp AS (SELECT s.doc_id,
             CASE WHEN ex.exact_min IS NULL THEN v.near_min
                  WHEN v.near_min IS NULL THEN ex.exact_min
                  ELSE least(ex.exact_min, v.near_min) END AS dup_of_index,
             CASE WHEN ex.exact_min IS NOT NULL THEN CAST(1.0 AS DOUBLE)
                  ELSE v.near_j END AS best_jaccard
           FROM sets s LEFT JOIN ex ON s.doc_id = ex.bid
             LEFT JOIN ver v ON s.doc_id = v.bid
           WHERE s.doc_id >= 250)
         SELECT doc_id, dup_of_index, best_jaccard,
           dup_of_index IS NULL AS keep
         FROM outp ORDER BY doc_id""",
    "dedup_simhash" ->
      s"""WITH $md5SimhashCtes
         SELECT doc_id, simhash, simhash >> 44 AS block
         FROM sh ORDER BY doc_id""",
    "dedup_simhash_pairs" ->
      s"""WITH $md5SimhashCtes
         SELECT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, c.simhash)) AS INT) AS hamming
         FROM sh a JOIN sh c ON (a.simhash >> 44) = (c.simhash >> 44)
           AND a.doc_id < c.doc_id
         WHERE bit_count(xor(a.simhash, c.simhash)) <= 16
         ORDER BY doc_id_a, doc_id_b""",
    "stream_neardup_keep" ->
      s"""WITH ${md5MinhashCtes(64, 8)},
         br AS (SELECT doc_id, (doc_id * 37) % 97 AS ts, b, bucket
           FROM bands),
         own AS (SELECT b, bucket, doc_id AS win_id FROM (
             SELECT b, bucket, doc_id,
               row_number() OVER (PARTITION BY b, bucket
                 ORDER BY ts, doc_id) AS rn
             FROM br) WHERE rn = 1)
         SELECT br.doc_id, min(br.ts) AS ts
         FROM br JOIN own ON br.b = own.b AND br.bucket = own.bucket
         GROUP BY br.doc_id
         HAVING sum(CASE WHEN br.doc_id = own.win_id THEN 1 ELSE 0 END) = 8
         ORDER BY doc_id""",
    "agg_centroids" ->
      """SELECT label, i - 1 AS dim,
         round(avg(embedding[i]::DOUBLE), 4) + 0.0 AS cval
         FROM embeddings, generate_series(1, 64) AS g(i)
         GROUP BY label, i ORDER BY label, dim""",
    // derived from the SAME CosineBandDims constant as the Spark query;
    // "shares a bucket in >= 1 of the 4 band tables" is the OR-chain
    // (DuckDB runs at sf0.01, so the n^2 formulation is fine there)
    "dedup_cosine_pairs" -> {
      val bandCols = CosineBandDims.zipWithIndex
        .map { case (ds, i) => s"${signBandSql(ds)} AS b$i" }
        .mkString(",\n             ")
      val anyBand = CosineBandDims.indices
        .map(i => s"a.b$i = c.b$i").mkString(" OR ")
      s"""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             $bandCols
           FROM embeddings)
         SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_cosine_similarity(a.v, c.v), 4) AS sim
         FROM b a JOIN b c ON a.vec_id < c.vec_id AND ($anyBand)
         WHERE round(list_cosine_similarity(a.v, c.v), 4) >= 0.3
         ORDER BY id_a, id_b"""
    },
    "sample_bottomk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
           SELECT * FROM lineitem
           ORDER BY md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR
             || '|' || l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR)
           LIMIT 1000)
         ORDER BY l_orderkey, l_linenumber, l_extendedprice""",
    "sample_hash" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE substr(md5(l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR
             || '|' || l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR),
           1, 15) < '400000000000000'
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "sample_stratified" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
           SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY md5(o_orderkey::VARCHAR)) AS rn
           FROM orders)
         WHERE rn <= 50
         ORDER BY o_orderstatus, o_orderkey""",
    "shuffle_rank" ->
      """SELECT doc_id,
         row_number() OVER (ORDER BY md5('7|' || doc_id::VARCHAR), doc_id)
           - 1 AS pos
         FROM documents ORDER BY doc_id""",
    "sample_mixture" ->
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM documents)
         WHERE rn <= CASE lang WHEN 'en' THEN 60 WHEN 'zh' THEN 24
           WHEN 'de' THEN 36 ELSE 0 END
         ORDER BY lang, doc_id""",
    "cdc_merge" ->
      """WITH ch AS (
           SELECT user_id AS k,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events),
         latest AS (SELECT k, op, value FROM ch WHERE rn = 1),
         base AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0)
         SELECT COALESCE(b.c_custkey, l.k) AS c_custkey,
           b.c_name, b.c_nationkey,
           CASE WHEN l.k IS NOT NULL THEN l.value
                ELSE b.c_acctbal END AS c_acctbal,
           b.c_mktsegment
         FROM base b FULL OUTER JOIN latest l ON b.c_custkey = l.k
         WHERE COALESCE(l.op, '') <> 'D'
         ORDER BY c_custkey""",
    "dedup_components" ->
      """WITH RECURSIVE sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           WHERE len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(a.s || b.s)) >= 0.8),
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(u, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
         SELECT u AS doc_id, min(r) AS component_id
         FROM reach GROUP BY u ORDER BY doc_id""",
    "text_dup_spans" ->
      """WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         s AS (SELECT doc_id,
             unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i, ws
           FROM w),
         sp AS (SELECT doc_id,
             CAST(('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')),
               1, 15)) AS BIGINT) AS k
           FROM s),
         c AS (SELECT k, count(*) AS n FROM sp GROUP BY k)
         SELECT sp.doc_id, count(*)::BIGINT AS n_spans,
           sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
           round(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 3) AS dup_fraction
         FROM sp JOIN c ON sp.k = c.k
         GROUP BY sp.doc_id ORDER BY doc_id""",

    "dedup_component_sizes" ->
      """WITH RECURSIVE sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           WHERE len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(a.s || b.s)) >= 0.8),
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(u, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         comp AS (SELECT u, min(r) AS component_id FROM reach GROUP BY u),
         szs AS (SELECT component_id, count(*) AS csize
                 FROM comp GROUP BY component_id)
         SELECT csize, count(*)::BIGINT AS n_components
         FROM szs GROUP BY csize ORDER BY csize""",

    "dedup_corpus_overlap" -> corpusOverlapSql("src0", "src1", 64),

    // every stage recomposed: span report -> keep filter -> doc-level
    // bucket-min representatives on the SURVIVORS -> md5 split -> report
    "pipeline_curation2" ->
      s"""WITH w AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS tws
           FROM documents),
         sp0 AS (SELECT doc_id,
             unnest(generate_series(1, greatest(len(tws) - 7, 0))) AS i, tws
           FROM w),
         sp AS (SELECT doc_id,
             CAST(('0x' || substr(md5(array_to_string(tws[i:i+7], ' ')),
               1, 15)) AS BIGINT) AS k
           FROM sp0),
         spc AS (SELECT k, count(*) AS n FROM sp GROUP BY k),
         frac AS (SELECT sp.doc_id,
             sum(CASE WHEN spc.n >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)
               AS f
           FROM sp JOIN spc ON sp.k = spc.k GROUP BY sp.doc_id),
         s1 AS (SELECT d.* FROM documents d
           LEFT JOIN frac ON d.doc_id = frac.doc_id
           WHERE frac.doc_id IS NULL OR round(frac.f, 3) < 0.5),
         ${md5MinhashCtes(64, 8, corpus = "s1")},
         bmin AS (SELECT b, bucket, min(doc_id) AS bucket_min
           FROM bands GROUP BY b, bucket),
         rep AS (SELECT a.doc_id, min(m.bucket_min) AS rep_id
           FROM bands a JOIN bmin m ON a.b = m.b AND a.bucket = m.bucket
           GROUP BY a.doc_id),
         s2 AS (SELECT s1.* FROM s1
           JOIN rep ON s1.doc_id = rep.doc_id AND s1.doc_id = rep.rep_id),
         s3 AS (SELECT * FROM s2
           WHERE (CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
               AS BIGINT)::DOUBLE + 1.0) / 1152921504606846976.0 <= 0.8)
         SELECT lang, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
             AS total_tokens
         FROM s3 GROUP BY lang ORDER BY lang""",

    "graph_triangles" ->
      """WITH sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents),
         e AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sets a JOIN sets b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           WHERE len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(a.s || b.s)) >= 0.8),
         tri AS (
           SELECT ab.a, ab.b, bc.b AS c
           FROM e ab JOIN e bc ON ab.b = bc.a
             JOIN e ac ON ac.a = ab.a AND ac.b = bc.b)
         SELECT node, count(*)::BIGINT AS n_triangles
         FROM (SELECT unnest([a, b, c]) AS node FROM tri)
         GROUP BY node ORDER BY node""",

    "text_top_ngrams" ->
      """WITH toks AS (
           SELECT regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         grams AS (
           SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             i -> t[i] || ' ' || t[i + 1])) AS ngram
           FROM toks)
         SELECT ngram, count(*) AS cnt FROM grams
         GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50""",
    "decon_ngram_hits" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         grams AS (
           SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           FROM toks),
         bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
         SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
         FROM grams g JOIN bench b ON g.gram = b.gram
         WHERE g.doc_id % 97 <> 0
         GROUP BY g.doc_id ORDER BY doc_id""",
    // exact by construction (verify join drops bloom false positives),
    // so the oracle is the same exact-overlap SQL as decon_ngram_hits
    "decon_bloom" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         grams AS (
           SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
           FROM toks),
         bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
         SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
         FROM grams g JOIN bench b ON g.gram = b.gram
         WHERE g.doc_id % 97 <> 0
         GROUP BY g.doc_id ORDER BY doc_id""",
    "text_lm_score" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         pairs AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
               i -> t[i])) AS w1,
             unnest(list_transform(generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1])) AS g
           FROM toks WHERE len(t) >= 2),
         uni AS (SELECT w1 AS w, count(*) AS cu
                 FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
         big AS (SELECT g, count(*) AS cb FROM pairs GROUP BY g),
         v AS (SELECT count(*) AS nv FROM uni)
         SELECT p.doc_id,
           floor(avg((big.cb + 0.1) / (uni.cu + 0.1 * v.nv)) * 10000 + 0.5)
             / 10000 AS lm_score
         FROM pairs p JOIN big ON p.g = big.g JOIN uni ON p.w1 = uni.w
           CROSS JOIN v
         GROUP BY p.doc_id ORDER BY doc_id""",
    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
             FROM documents
             WHERE text IS NOT NULL AND length(trim(text)) > 0),
         toks AS (SELECT doc_id, unnest(arr) AS tok,
             unnest(generate_series(1, len(arr))) AS i FROM d),
         spans AS (SELECT doc_id, (i - 1) // 2 AS pos,
             string_agg(tok, ' ' ORDER BY i) AS unit
             FROM toks GROUP BY doc_id, (i - 1) // 2),
         freq AS (SELECT unit FROM spans GROUP BY unit HAVING count(*) > 20),
         flagged AS (SELECT s.doc_id, s.pos, s.unit,
             f.unit IS NOT NULL AS is_freq
             FROM spans s LEFT JOIN freq f ON s.unit = f.unit)
         SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT is_freq THEN unit END,
             ' ' ORDER BY pos), '') AS clean_text,
           COALESCE(sum(CASE WHEN is_freq THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_dropped,
           count(*)::BIGINT AS n_units
         FROM flagged GROUP BY doc_id ORDER BY doc_id""",
    "text_repetition" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         base AS (
           SELECT doc_id,
             floor((1.0 - len(list_distinct(t))::DOUBLE / len(t)) * 10000 + 0.5)
               / 10000 AS dup_word_frac, t
           FROM toks WHERE len(t) >= 2),
         grams AS (
           SELECT doc_id, dup_word_frac,
             unnest(list_transform(generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1])) AS gram
           FROM base),
         cnt AS (
           SELECT doc_id, dup_word_frac, gram, count(*) AS c
           FROM grams GROUP BY ALL)
         SELECT doc_id, dup_word_frac,
           floor(max(c)::DOUBLE / sum(c) * 10000 + 0.5) / 10000 AS top_ngram_frac
         FROM cnt GROUP BY doc_id, dup_word_frac ORDER BY doc_id""",
    "text_chunks" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         starts AS (
           SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 8, 1), 24)) AS s
           FROM toks)
         SELECT doc_id, (s - 1) // 24 AS chunk_idx,
           array_to_string(t[s:s+31], ' ') AS chunk_text,
           len(t[s:s+31]) AS n_tokens
         FROM starts ORDER BY doc_id, chunk_idx""",
    "text_redact" ->
      """SELECT event_id,
         len(regexp_extract_all(props, '[0-9]+')) AS n_hits,
         regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted
         FROM events ORDER BY event_id""",
    // quality CTE = the text_quality oracle; the keep rule is the same
    // 60-bit hex threshold WeightedHashSample computes
    "sample_weighted" ->
      """WITH t AS (SELECT doc_id, text,
           CASE WHEN length(trim(text)) = 0 THEN 0.0
             ELSE len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
             END AS n,
           length(text)::DOUBLE AS len,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> list_contains(['the','a','and','of','to','in'], x)))::DOUBLE AS stop,
           (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE AS punct,
           length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE AS nospace
           FROM documents),
         q AS (SELECT doc_id,
           floor((least(n / 50.0, 1.0) * 0.3
             + (CASE WHEN n = 0 THEN 0.0 ELSE stop / n END) * 0.3
             + (1.0 - CASE WHEN len = 0 THEN 0.0 ELSE punct / len END) * 0.2
             + least((CASE WHEN n = 0 THEN 0.0 ELSE nospace / n END) / 8.0,
                 1.0) * 0.2) * 1000.0 + 0.5) / 1000.0
             AS quality
           FROM t)
         SELECT doc_id, quality FROM q
         WHERE substr(md5(doc_id::VARCHAR), 1, 15) <
           lpad(lower(hex(CAST(least(greatest(
             floor(quality * 1152921504606846976.0), 0.0),
             1152921504606846975.0) AS BIGINT))), 15, '0')
         ORDER BY doc_id""",
    "text_pack" ->
      """WITH toks AS (
           SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         cum AS (
           SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS s
           FROM toks)
         SELECT doc_id, n_tokens, s // 256 AS seq_id, s % 256 AS seq_offset
         FROM cum ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         words AS (SELECT doc_id, unnest(t) AS word FROM toks),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY ALL),
         dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         n AS (SELECT count(*) AS n FROM toks),
         scored AS (
           SELECT doc_id, word,
             floor(tf * ((n + 1.0) / (df + 1.0)) * 10000 + 0.5) / 10000 AS score
           FROM tf JOIN dfreq USING (word) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, word, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word)
               AS rk
           FROM scored)
         SELECT doc_id, word, score FROM ranked WHERE rk <= 3
         ORDER BY doc_id, word""",
    "scalar_json_extract" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
         FROM events ORDER BY event_id""",
    "sim_cosine_all" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0 AS sim
         FROM embeddings, q ORDER BY vec_id""",
    "sim_cosine_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0 AS sim
         FROM embeddings, q
         ORDER BY sim DESC, vec_id LIMIT 20""",
    "sim_quantize" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
               / 127.0 AS qscale
           FROM embeddings)
         SELECT vec_id, i - 1 AS dim,
           CASE WHEN qscale = 0 THEN 0 ELSE
             greatest(-127.0, least(127.0, floor(v[i] / qscale + 0.5)))
           END::INTEGER AS qval,
           qscale
         FROM s, generate_series(1, 64) AS g(i)
         ORDER BY vec_id, dim""",
    "sim_topk_join" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 20),
         s AS (SELECT q.query_id, e.vec_id,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4)
                   + 0.0 AS sim
               FROM embeddings e, q),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, vec_id) AS rn FROM s)
         SELECT query_id, vec_id, sim FROM r WHERE rn <= 5
         ORDER BY query_id, vec_id""",
    "sim_ann_ivf" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id = 0)
         SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) + 0.0 AS sim
         FROM embeddings, q
         ORDER BY sim DESC, vec_id LIMIT 20""",
    "sim_ann_lsh" ->
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[20] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[34] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
         SELECT vec_id, round(list_cosine_similarity(v, qv), 4) + 0.0 AS sim,
           bucket
         FROM b, q WHERE bucket = qbucket
         ORDER BY sim DESC, vec_id LIMIT 10""",
    "sim_ann_lsh_multiprobe" ->
      """WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN embedding[8] > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN embedding[20] > 0 THEN 4 ELSE 0 END)
           + (CASE WHEN embedding[34] > 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
         SELECT vec_id, round(list_cosine_similarity(v, qv), 4) + 0.0 AS sim,
           bucket
         FROM b, q WHERE bucket IN (qbucket, xor(qbucket, 1), xor(qbucket, 2),
           xor(qbucket, 4), xor(qbucket, 8))
         ORDER BY sim DESC, vec_id LIMIT 10""",
    "text_token_count" ->
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+'))
           AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
           CASE WHEN length(trim(text)) = 0 THEN 0.0
             ELSE len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
             END AS n,
           length(text)::DOUBLE AS len,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> list_contains(['the','a','and','of','to','in'], x)))::DOUBLE AS stop,
           (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE AS punct,
           length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE AS nospace
           FROM documents)
         SELECT doc_id,
           floor((least(n / 50.0, 1.0) * 0.3
             + (CASE WHEN n = 0 THEN 0.0 ELSE stop / n END) * 0.3
             + (1.0 - CASE WHEN len = 0 THEN 0.0 ELSE punct / len END) * 0.2
             + least((CASE WHEN n = 0 THEN 0.0 ELSE nospace / n END) / 8.0,
                 1.0) * 0.2) * 1000.0 + 0.5) / 1000.0
             AS quality
         FROM t ORDER BY doc_id""",
    "text_lang_id" ->
      """WITH t AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS tok FROM documents),
         c AS (SELECT doc_id,
           len(list_filter(tok, x -> list_contains(['the','a','and','of'], x))) AS en,
           len(list_filter(tok, x -> list_contains(['el','la','de','y'], x))) AS es,
           len(list_filter(tok, x -> list_contains(['le','les','et','une'], x))) AS fr,
           len(list_filter(tok, x -> list_contains(['der','die','und','das'], x))) AS de
           FROM t)
         SELECT doc_id,
           CASE WHEN en + es + fr + de = 0 THEN 'und'
                WHEN en >= es AND en >= fr AND en >= de THEN 'en'
                WHEN es >= fr AND es >= de THEN 'es'
                WHEN fr >= de THEN 'fr'
                ELSE 'de' END AS lang_pred
         FROM c ORDER BY doc_id""",
    "mm_decode_meta" ->
      """SELECT doc_id AS id, 'text' AS kind,
         strlen(text)::BIGINT AS byte_len,
         ord(substr(text, 1, 1)) AS header_byte,
         list_sum(list_transform(string_split(text, ''),
           x -> ord(x)::BIGINT))::BIGINT AS byte_sum,
         (ord(substr(text, 1, 1)) & 127) + 1 AS width,
         (ord(substr(text, length(text), 1)) & 127) + 1 AS height
         FROM documents ORDER BY id""",
    // replays Multimodal.testPixel/testDims + the NN index math
    // (sx = x2*W//8, sy = y2*H//8) and the position weights y2*8+x2+1
    "mm_decode_real" ->
      """SELECT d.doc_id,
           CAST(16 + d.doc_id % 9 AS INT) AS width,
           CAST(12 + d.doc_id % 7 AS INT) AS height,
           CAST(sum(
             ((d.doc_id * 31
               + ((px.x2 * (16 + d.doc_id % 9)) // 8) * 7
               + ((px.y2 * (12 + d.doc_id % 7)) // 8) * 13) % 256)
             * (px.y2 * 8 + px.x2 + 1)) AS BIGINT) AS checksum
         FROM documents d,
           (SELECT xs.range AS x2, ys.range AS y2
            FROM range(8) xs, range(8) ys) px
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    "stream_tumbling" ->
      """SELECT floor(epoch(date_trunc('hour', ts::TIMESTAMP)))::BIGINT AS window_start,
         event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "stream_sliding" ->
      """WITH w AS (
           SELECT time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP) AS ws, value
           FROM events
           UNION ALL
           SELECT time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP)
             - INTERVAL '30 minutes' AS ws, value
           FROM events)
         SELECT floor(epoch(ws))::BIGINT AS window_start, count(*) AS n,
           round(sum(value), 2) AS sum_value
         FROM w GROUP BY ws ORDER BY window_start""",
    "range_join_agg" ->
      """SELECT p_partkey, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM part JOIN events
           ON value >= p_size * 4.0 AND value <= p_size * 4.0 + 2.0
         WHERE p_partkey <= 100
         GROUP BY p_partkey ORDER BY p_partkey""",
    "asof_join" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events
             WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events
             WHERE event_type = 'click')
         SELECT p.user_id, p.event_id,
           epoch_us(c.ts) AS click_us, c.value AS click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND c.ts <= p.ts
         ORDER BY event_id""",
    "stream_session_custom" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tn, value, event_type
             FROM events),
         m AS (SELECT *, CASE WHEN lag(tn) OVER w IS NULL
               OR tn - lag(tn) OVER w >= 1800000000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_type)),
         s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
               ORDER BY tn, event_type ROWS UNBOUNDED PRECEDING) AS sid FROM m),
         g AS (SELECT user_id, sid, min(tn) // 1000000000 AS session_start_sec,
               count(*) AS n, round(sum(value), 2) AS sum_value,
               min_by(event_type, lpad(tn::VARCHAR, 20, '0') || '|' || event_type)
                 AS first_type,
               max_by(event_type, lpad(tn::VARCHAR, 20, '0') || '|' || event_type)
                 AS last_type
           FROM s GROUP BY user_id, sid)
         SELECT user_id, session_start_sec, n, sum_value, first_type, last_type,
           CASE WHEN sid = (SELECT max(sid) FROM g g2
                            WHERE g2.user_id = g.user_id)
                THEN 'end' ELSE 'gap' END AS closed_by
         FROM g ORDER BY user_id, session_start_sec""",
    "stream_session" ->
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS t, value FROM events),
         m AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
               OR t - lag(t) OVER w >= INTERVAL '30 minutes'
               THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         SELECT user_id, floor(epoch(min(t)))::BIGINT AS session_start,
           count(*) AS n, round(sum(value), 2) AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""
  )
}
