package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search.
  *
  * Vectors are `array<float>` columns cast to `array<double>` for stable
  * math. The brute-force path is the correctness baseline (single scan,
  * no shuffle, broadcast query); the LSH/IVF-style bucketed path is the
  * scale path: a data-independent coarse quantizer prunes the scan to one
  * bucket, so a 100 TB corpus is probed via partition pruning on a bucket
  * column (store bucketed/partitioned by it) instead of a full scan.
  */
object Similarity {

  def toVec(c: Column): Column = c.cast("array<double>")

  /** Every search function takes a SINGLE-vector query: with a multi-row
    * query frame the global orderBy/limit would mix probe lists and
    * rankings across queries and return a wrong per-query top-k.
    * Enforced (the frame is tiny, so the count is cheap) rather than
    * silently mis-answered; batch queries should loop or union results.
    */
  private def requireSingleQueryRow(query: DataFrame, fn: String): Unit = {
    val n = query.limit(2).count()
    require(n == 1, s"$fn expects exactly one query row, got " +
      (if (n > 1) "more than one" else "zero"))
  }

  /** Fused-loop native dot product (codegen) — see [[graft.functions.DotProduct]].
    * Identical result to the sequential fold, without the intermediate
    * array or interpreted lambdas. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  /** The composable higher-order-function form (kept as the reference
    * semantics the native expression is tested against). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine of every row's vector against a single query vector (the query
    * side is a 1-row DataFrame, broadcast — no shuffle of the corpus). */
  def cosineToQuery(corpus: DataFrame, idCol: String, vecCol: String,
                    query: DataFrame, queryVecCol: String): DataFrame = {
    requireSingleQueryRow(query, "cosineToQuery")
    corpus.crossJoin(broadcast(query))
      .select(col(idCol),
        cosine(toVec(col(vecCol)), toVec(col(queryVecCol))).as("sim"))
  }

  /** Brute-force top-k by cosine (ties broken by id — deterministic). */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           query: DataFrame, queryVecCol: String, k: Int): DataFrame =
    cosineToQuery(corpus, idCol, vecCol, query, queryVecCol)
      .withColumn("sim", round(col("sim"), 4))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** Top-`n` of a scored table with an explicit 1-based `rank` column
    * (score desc, id asc ties — deterministic). The ordered limit plans
    * as TakeOrderedAndProject (per-partition bounded buffers, one k-row
    * merge); the unpartitioned rank window then runs on the ≤ n-row
    * result, never on the corpus — the standard two-step that keeps
    * "rank the top 50 of 100 TB" off a single task. */
  def rankByScore(scored: DataFrame, idCol: String, scoreCol: String,
                  n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    scored.orderBy(col(scoreCol).desc, col(idCol)).limit(n)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col(scoreCol).desc, col(idCol)))
        .cast("long"))
  }

  /** Reciprocal-rank fusion of two ranked lists (the standard hybrid
    * sparse+dense retrieval combiner): fused(d) = Σ_lists 1/(c + rank),
    * a document missing from one list contributes 0 from it. Takes the
    * [[rankByScore]] outputs (idCol + `rank`), full-outer-joins the two
    * ≤ n-row lists, and returns the top-`k` by fused score (id-asc
    * ties). The corpus is touched only by the upstream scorers; fusion
    * itself runs on 2n rows however large the corpus. The score is a
    * FIXED two-term expression (never a float reduction), so it replays
    * bit-identically on any engine. */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, idCol: String,
              c: Int = 60, k: Int = 10): DataFrame = {
    require(c >= 0 && k > 0, s"need c >= 0, k > 0: $c, $k")
    val a = sparse.select(col(idCol), col("rank").as("rank_sparse"))
    val b = dense.select(col(idCol), col("rank").as("rank_dense"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol), col("rank_sparse"), col("rank_dense"),
        round(
          coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_sparse")),
            lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("rank_dense")),
            lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Random-hyperplane-style bucket id from the signs of selected
    * dimensions (axis-aligned planes chosen by `dims`, data-independent —
    * every writer/reader derives the same bucket without coordination). */
  def lshBucket(vec: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, i) =>
      when(element_at(vec, d + 1) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** ANN: probe only the query's coarse bucket, then exact cosine + top-k
    * within it. Recall < 1 by construction; the bucket count (2^dims.size)
    * trades recall for scan fraction.
    */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, queryVecCol: String, dims: Seq[Int],
              k: Int): DataFrame = {
    requireSingleQueryRow(query, "annTopK")
    val bucketed = corpus.withColumn("__bucket", lshBucket(toVec(col(vecCol)), dims))
    val q = query.withColumn("__qbucket", lshBucket(toVec(col(queryVecCol)), dims))
    bucketed.crossJoin(broadcast(q))
      .filter(col("__bucket") === col("__qbucket"))
      .select(col(idCol),
        round(cosine(toVec(col(vecCol)), toVec(col(queryVecCol))), 4).as("sim"),
        col("__bucket").as("bucket"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Multi-probe ANN: probe the query's sign-bucket AND every bucket at
    * Hamming distance 1 (one plane flipped) — the standard multi-probe
    * LSH recall recovery: near neighbors that fall just across one
    * hyperplane are found without adding hash tables. Scan fraction
    * grows from 1 to (1 + dims.size) buckets of 2^dims.size; with the
    * corpus stored partitioned by bucket this stays partition-pruned.
    */
  def annTopKMultiProbe(corpus: DataFrame, idCol: String, vecCol: String,
                        query: DataFrame, queryVecCol: String, dims: Seq[Int],
                        k: Int): DataFrame = {
    requireSingleQueryRow(query, "annTopKMultiProbe")
    val bucketed = corpus.withColumn("__bucket", lshBucket(toVec(col(vecCol)), dims))
    val qb = lshBucket(toVec(col(queryVecCol)), dims)
    // query bucket + each single-bit flip of it
    val probes = array((qb +: dims.indices.map(i =>
      qb.bitwiseXOR(lit(1 << i)))): _*)
    val q = query.withColumn("__probes", probes)
    bucketed.crossJoin(broadcast(q))
      .filter(array_contains(col("__probes"), col("__bucket")))
      .select(col(idCol),
        round(cosine(toVec(col(vecCol)), toVec(col(queryVecCol))), 4).as("sim"),
        col("__bucket").as("bucket"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** BATCH top-k similarity join: the k nearest corpus vectors (cosine,
    * ties by id) for EVERY query in a query frame — the retrieval shape
    * of embedding-based dedup-against-index and RAG-style lookup, where
    * the single-query [[topK]] loop would rescan the corpus per query.
    *
    * One corpus scan: the query batch broadcasts, every (corpus, query)
    * pair is scored in the scan, and the per-query top-k is a
    * [[TopKByScore]] typed aggregate whose state is BOUNDED at k — so it
    * partial-aggregates map-side and the shuffle carries only
    * (queries x partitions x k) ranked entries, never the full score
    * table (a per-query `row_number` window would shuffle all
    * |corpus| x |queries| scored rows onto |queries| reducers).
    * Scores are rounded to 4 decimals BEFORE ranking (same contract as
    * [[topK]]), so ranks are engine-replayable.
    */
  def topKJoin(corpus: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, qidCol: String, qvecCol: String,
               k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(qidCol).cast("long"),
        round(cosine(toVec(col(vecCol)), toVec(col(qvecCol))), 4).as("sim"),
        col(idCol).cast("long"))
      .as[(Long, Double, Long)]
    scored.groupByKey(_._1)
      .agg(new TopKByScore(k).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.id, h.score)) }
      .toDF(qidCol, idCol, "sim")
      .withColumn("sim", col("sim") + lit(0.0))
  }

  // ---------------- banded multi-table sign-LSH near-dup ----------------

  /** Contiguous axis-aligned hyperplane assignment: table (band) `i` gets
    * dims `[i*bitsPerBand, (i+1)*bitsPerBand)`. Data-independent, so every
    * writer/reader derives identical buckets with no coordination, and the
    * plan is expressible in plain SQL (the DuckDB oracle recomputes it). */
  def signBandDims(bands: Int, bitsPerBand: Int, dim: Int): Seq[Seq[Int]] = {
    require(bands > 0 && bitsPerBand > 0, "bands and bitsPerBand must be positive")
    require(bands * bitsPerBand <= dim,
      s"bands*bitsPerBand (${bands * bitsPerBand}) exceeds vector dim ($dim)")
    (0 until bands).map(b => (b * bitsPerBand) until ((b + 1) * bitsPerBand))
  }

  /** Corpus-scaled band plan: bits-per-band grows with log2(n), so bucket
    * occupancy stays ~`targetOccupancy` as the corpus grows and the
    * within-bucket candidate join stays ~LINEAR in n (occupancy^2 per
    * bucket x n/occupancy buckets), instead of quadratic under a fixed
    * bucket count. `bands` tables recover the recall the finer buckets
    * give up (a near pair collides in >= 1 of the `bands` tables).
    */
  def signBandPlanFor(n: Long, dim: Int, bands: Int = 4,
                      targetOccupancy: Int = 64): Seq[Seq[Int]] = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    val bits = math.min(math.max(4, needed), dim / bands)
    signBandDims(bands, bits, dim)
  }

  /** Per-table sign buckets as `array<long>` — one bucket id per band.
    * Element i is [[lshBucket]] over band i's hyperplanes. Non-null
    * elements by construction (the when/otherwise never yields null), as
    * [[graft.functions.FirstEqualIndex]] requires. */
  def signBandBuckets(vec: Column, bandDims: Seq[Seq[Int]]): Column =
    array(bandDims.map(ds => lshBucket(vec, ds).cast("long")): _*)

  /** Unique-vector representative table for the banded join: corpus
    * collapsed to one row per distinct vector (digest of the rendered
    * array), replicated once per band via posexplode. Mirrors
    * [[graft.dedup.Dedup.minhashNearDups]] lever 1: candidate work scales
    * with |unique vectors|, not |copies| — a duplicate-heavy crawl (the
    * realistic regime) adds no candidate pairs, only membership rows. */
  private def vecReps(corpus: DataFrame, idCol: String, vecCol: String,
                      bandDims: Seq[Seq[Int]]): (DataFrame, DataFrame) = {
    // digest = md5 over the string-rendered doubles: deterministic within
    // Spark (never compared cross-engine), collision odds negligible
    val dig = md5(array_join(
      transform(toVec(col(vecCol)), x => x.cast("string")), ","))
    val members = corpus.select(col(idCol), dig.as("__dig"))
    val reps = corpus
      .select(dig.as("__dig"), toVec(col(vecCol)).as("__v"))
      .dropDuplicates("__dig")
      .withColumn("__bands", signBandBuckets(col("__v"), bandDims))
      .select(col("__dig"), col("__v"), col("__bands"),
        posexplode(col("__bands")).as(Seq("band", "bucket")))
    (members, reps)
  }

  /** Embedding near-dup pairs: banded multi-table sign-LSH blocking with
    * the exact-cosine verification FUSED into the join condition — the
    * [[graft.dedup.Dedup.minhashNearDups]] shape applied to vectors.
    *
    * Each vector gets one bucket per band (`bandDims` hyperplane tables);
    * candidates are pairs sharing a bucket in >= 1 band, generated by a
    * hash-partitioned self-join on (band, bucket) — never all-pairs. The
    * join condition runs cheap-to-expensive so codegen short-circuits do
    * the pruning: id order, first-colliding-band dedup (exactly-once per
    * pair, replacing a pair-stream `distinct()` shuffle), then the exact
    * cosine. Output = every pair with `round(cos, 4) >= threshold` that
    * collides in at least one band (recall < 1 by construction — the
    * standard LSH trade; scale `bandDims` via [[signBandPlanFor]]).
    *
    * Identical-vector pairs are emitted from the membership table at
    * sim 1.0 without ever entering the join (cos(v,v) rounds to 1.0).
    */
  def cosineNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double,
                     bandDims: Seq[Seq[Int]]): DataFrame = {
    val aCol = s"${idCol}_a"
    val bCol = s"${idCol}_b"
    val (members, reps) = vecReps(corpus, idCol, vecCol, bandDims)
    val a = reps.toDF("__dig_a", "__v_a", "__bands_a", "band", "bucket")
    val b = reps.toDF("__dig_b", "__v_b", "__bands_b", "band_b", "bucket_b")
    // rounded BEFORE the threshold so the gate's DuckDB oracle
    // (`WHERE round(cos, 4) >= t`) sees the identical boundary set
    val sim = round(cosine(col("__v_a"), col("__v_b")), 4)
    val verified = a.join(b,
        a("band") === b("band_b") && a("bucket") === b("bucket_b")
          && col("__dig_a") < col("__dig_b")
          && graft.functions.FirstEqualIndex(col("__bands_a"), col("__bands_b"))
            === col("band")
          && sim >= threshold)
      // sim re-evaluates for SURVIVORS only (an expression cannot be
      // shared across a join condition and a projection)
      .select(col("__dig_a"), col("__dig_b"), sim.as("sim"))
    val cross = verified
      .join(members.toDF("__x", "__dig_a"), Seq("__dig_a"))
      .join(members.toDF("__y", "__dig_b"), Seq("__dig_b"))
      .select(least(col("__x"), col("__y")).as(aCol),
        greatest(col("__x"), col("__y")).as(bCol), col("sim"))
    // exact-duplicate vectors: every within-digest pair at cosine 1.0
    val m1 = members.toDF(aCol, "__dig")
    val m2 = members.toDF(bCol, "__dig2")
    val within = m1.join(m2, col("__dig") === col("__dig2")
        && col(aCol) < col(bCol))
      .select(col(aCol), col(bCol), lit(1.0).as("sim"))
    if (threshold <= 1.0) cross.unionByName(within) else cross
  }

  /** Candidate pairs at the UNIQUE-VECTOR level (post band-collision +
    * first-band dedup, pre cosine verify) — the scale diagnostic:
    * candidate count should grow ~linearly in corpus size under a
    * [[signBandPlanFor]]-scaled plan, and stay INVARIANT under exact
    * replication (digest collapse), as a 10x-replicated rehearsal
    * corpus measured. */
  def cosineCandidates(corpus: DataFrame, idCol: String, vecCol: String,
                       bandDims: Seq[Seq[Int]]): DataFrame = {
    val (_, reps) = vecReps(corpus, idCol, vecCol, bandDims)
    val a = reps.toDF("__dig_a", "__v_a", "__bands_a", "band", "bucket")
    val b = reps.toDF("__dig_b", "__v_b", "__bands_b", "band_b", "bucket_b")
    a.join(b, a("band") === b("band_b") && a("bucket") === b("bucket_b")
        && col("__dig_a") < col("__dig_b")
        && graft.functions.FirstEqualIndex(col("__bands_a"), col("__bands_b"))
          === col("band"))
      .select(col("__dig_a"), col("__dig_b"))
  }

  // ---------------- IVF (inverted-file) ANN ----------------

  /** Assign every vector its nearest centroid by cosine. The argmax over
    * ≤ nlist centroids is computed PER ROW: the (tiny — nlist × dim
    * doubles) centroid table is collected and inlined into the plan as
    * literal vectors, so assignment is a pure map over the corpus scan —
    * zero Exchange. (The earlier crossJoin + `max_by` groupBy shuffled
    * the full (id, cell, vec) corpus once per Lloyd iteration — at
    * 100 TB × iters that is a corpus shuffle per iteration for an argmax
    * a single expression can do.) Ties break to the smaller cell id via
    * the (sim, -cell) struct ordering, exactly as `max_by` did.
    */
  private[graft] def assign(corpus: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame): DataFrame = {
    val cents = centroids
      .select(col("__cell").cast("int"), toVec(col("__cvec")))
      .collect()
    require(cents.nonEmpty, "assign: empty centroid table")
    val scored = cents.map { r =>
      val cell = r.getInt(0)
      val cvec = typedLit(r.getSeq[Double](1))
      // round BEFORE the argmax: pins the assignment against last-ulp
      // engine divergence, so a SQL oracle replays identical cells
      struct(round(cosine(toVec(col(vecCol)), cvec), 4).as("s"),
        lit(-cell).as("nc"))
    }
    val best =
      if (scored.length == 1) scored.head else greatest(scored.toSeq: _*)
    corpus.select(col(idCol),
      (-best.getField("nc")).as("__cell"), col(vecCol))
  }

  /** nlist ceiling for the literal-inlined [[assign]] plan. `greatest()`
    * over nlist struct literals of dim doubles generates O(nlist·dim)
    * code and plan blob: past a few hundred cells the generated method
    * trips the JVM's 64KB bytecode ceiling (whole-stage codegen falls
    * back to interpreted) and at production nlist (4k–64k × 1k dims) the
    * literal plan itself strains the planner. [[ivfIndex]] switches to
    * [[assignJoin]] above this. */
  private[graft] val AssignInlineMaxNlist = 256

  /** Large-nlist assignment: the centroid table travels as DATA — one
    * broadcast row holding an `array<struct<cell,v>>` — and the per-row
    * argmax is a single `aggregate()` higher-order expression looping
    * over that array. Same zero-Exchange shape as [[assign]] (broadcast
    * nested-loop against one row, pure map over the corpus scan), but
    * the generated code size is CONSTANT in nlist, so no codegen cliff.
    * Identical semantics: same 4-dp pre-rounding, same (sim, -cell)
    * struct-max tie-break to the smaller cell id (IvfStreamingDedupSpec
    * pins both paths row-identical). */
  private[graft] def assignJoin(corpus: DataFrame, idCol: String,
                                vecCol: String,
                                centroids: DataFrame): DataFrame = {
    val centsRow = centroids.agg(collect_list(struct(
      col("__cell").cast("int").as("cell"),
      toVec(col("__cvec")).as("v"))).as("__cents"))
    // init sorts below every real candidate: rounded cosine >= -1.0
    val init = struct(lit(-2.0).as("s"), lit(Int.MinValue).as("nc"))
    val best = aggregate(col("__cents"), init, (acc, c) => {
      val cand = struct(
        round(cosine(toVec(col(vecCol)), c.getField("v")), 4).as("s"),
        (-c.getField("cell")).as("nc"))
      when(cand > acc, cand).otherwise(acc)
    })
    corpus.crossJoin(broadcast(centsRow))
      .select(col(idCol), (-best.getField("nc")).as("__cell"), col(vecCol))
  }

  /** Build an IVF coarse-quantizer index: deterministic hash seeding
    * (`cell = pmod(xxhash64(id), nlist)`), then `iters` Lloyd rounds —
    * centroids via the [[VectorCentroid]] typed aggregator (map-side
    * partial agg: the shuffle carries nlist x dim doubles regardless of
    * corpus size), reassignment via [[assign]].
    *
    * Returns (corpus + `__cell`, centroids `(__cell, __cvec)`). At scale,
    * write the assigned corpus partitioned by `__cell`: queries then
    * partition-prune to `nprobe` inverted lists instead of scanning.
    */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               nlist: Int, iters: Int = 1,
               seedCell: Option[Column] = None): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def centroidsOf(assigned: DataFrame): DataFrame =
      assigned.select(col("__cell"), toVec(col(vecCol)).as("__v"))
        .as[(Int, Seq[Double])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new VectorCentroid(dim).toColumn.name("__cvec"))
        .toDF("__cell", "__cvec")

    // xx64 is the fast production seed; gates pass an md5-derived seed so
    // a SQL oracle can replay the identical seeding cross-engine
    val seed = seedCell.getOrElse(
      pmod(xxhash64(col(idCol)), lit(nlist)).cast("int"))
    var assigned = corpus.select(col(idCol), seed.as("__cell"), col(vecCol))
    var cents = centroidsOf(assigned)
    var i = 0
    while (i < iters) {
      val base = corpus.select(col(idCol), col(vecCol))
      // literal-inlined argmax under the codegen ceiling, data-driven
      // HOF loop above it — identical results either way
      assigned =
        if (nlist <= AssignInlineMaxNlist) assign(base, idCol, vecCol, cents)
        else assignJoin(base, idCol, vecCol, cents)
      cents = centroidsOf(assigned)
      i += 1
    }
    (assigned, cents)
  }

  /** IVF ANN query: score the nlist centroids against the query (tiny,
    * driver-side ordering), probe the top `nprobe` inverted lists, exact
    * cosine + top-k within them. `nprobe = nlist` degenerates to exact
    * brute force (the oracle identity the gate query checks);
    * `nprobe << nlist` is the production trade of recall for scan
    * fraction — with the corpus stored partitioned by `__cell`, the
    * non-probed lists are never read.
    */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, idCol: String,
              vecCol: String, query: DataFrame, queryVecCol: String,
              nprobe: Int, k: Int): DataFrame = {
    requireSingleQueryRow(query, "ivfTopK")
    val probed = centroids.crossJoin(broadcast(query))
      .select(col("__cell"),
        cosine(col("__cvec"), toVec(col(queryVecCol))).as("__csim"))
      .orderBy(col("__csim").desc, col("__cell"))
      .limit(nprobe)
      .select("__cell")
    assigned.join(broadcast(probed), Seq("__cell"))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(toVec(col(vecCol)), toVec(col(queryVecCol))), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Two-stage retrieval: int8-quantized coarse scan → exact rescore.
    * The standard ANN production shape ([[graft.similarity.Quantize]]
    * supplies the 4×-smaller byte vectors): stage 1 ranks the WHOLE
    * corpus by the cosine of the quantized vectors (scales cancel —
    * positive per-vector scaling leaves cosine unchanged) and keeps
    * `candidates` ids via TakeOrderedAndProject; stage 2 re-reads full
    * precision for only those candidates (broadcast semi-join — at scale
    * this is the only touch of the float32 store) and returns the exact
    * top-k. Recall < 1 only when quantization error reorders a true
    * top-k member below rank `candidates` — a few× k of headroom makes
    * that vanishingly rare (int8 per-dim relative error ≤ 1/254).
    */
  def int8RescoreTopK(corpus: DataFrame, idCol: String, vecCol: String,
                      query: DataFrame, queryVecCol: String,
                      candidates: Int, k: Int): DataFrame = {
    requireSingleQueryRow(query, "int8RescoreTopK")
    require(candidates >= k, "candidate pool must cover k")
    // private quantized-column names: the caller's frames own "qvec"
    val qz = Quantize.int8(corpus, vecCol, "__qz", "__qzs")
    val qq = Quantize.int8(query, queryVecCol, "__qq", "__qqs")
    val coarse = qz.crossJoin(broadcast(qq))
      .select(col(idCol),
        cosine(col("__qz").cast("array<double>"),
          col("__qq").cast("array<double>")).as("__coarse"))
      .orderBy(col("__coarse").desc, col(idCol))
      .limit(candidates)
      .select(idCol)
    corpus.join(broadcast(coarse), Seq(idCol))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(cosine(toVec(col(vecCol)), toVec(col(queryVecCol))), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** SemDeDup-style semantic dedup decision (Abbas et al. 2023): cluster
    * the embedding space with the IVF coarse quantizer, then within each
    * cluster drop every vector that has a LOWER-id near-duplicate at
    * `round(cos, 4) >= threshold`. Cross-cluster near-dups are missed by
    * construction — that is the SemDeDup trade: candidate generation is
    * O(occupancy²) per cell instead of O(n²), and occupancy is held
    * constant by scaling `nlist` with the corpus (~n/occupancy cells; the
    * LAION-scale runs use 10⁵ clusters for 10⁸ embeddings).
    *
    * Shape: assignment is a pure map (centroids inlined — see [[assign]]),
    * the within-cell self-join hash-partitions on `__cell`, and the
    * dup-id set collapses map-side before the keep flag joins back.
    * Returns one row per vector: (id, cell, keep).
    */
  def semanticDedupKeep(corpus: DataFrame, idCol: String, vecCol: String,
                        dim: Int, nlist: Int, threshold: Double,
                        iters: Int = 1,
                        seedCell: Option[Column] = None): DataFrame = {
    val (assigned, _) =
      ivfIndex(corpus, idCol, vecCol, dim, nlist, iters, seedCell)
    val a = assigned.select(col(idCol).as("__id_a"), col("__cell"),
      toVec(col(vecCol)).as("__v_a"))
    val b = assigned.select(col(idCol).as("__id_b"),
      col("__cell").as("__cell_b"), toVec(col(vecCol)).as("__v_b"))
    val dupIds = a.join(b,
        col("__cell") === col("__cell_b") && col("__id_b") < col("__id_a")
          && round(cosine(col("__v_a"), col("__v_b")), 4) >= threshold)
      .select(col("__id_a")).dropDuplicates("__id_a")
      .withColumn("__dup", lit(true))
    assigned.select(col(idCol), col("__cell"))
      .join(dupIds.withColumnRenamed("__id_a", idCol), Seq(idCol), "left")
      .select(col(idCol), col("__cell").as("cell"),
        col("__dup").isNull.as("keep"))
  }

  /** Incremental IVF maintenance — the append path every vector index
    * needs between refits: assign a NEW batch against the EXISTING
    * (frozen) centroids, never touching the already-indexed corpus.
    * Identity (the gate's oracle): on unchanged centroids, the appended
    * rows land in exactly the cells a full rebuild's final assignment
    * round would give them — append is a pure extension, not a drift.
    * Shape: the same zero-Exchange broadcast-argmax as [[ivfIndex]]'s
    * assignment step (literal-inlined under [[AssignInlineMaxNlist]]
    * cells, data-driven HOF loop above it); at scale the batch appends
    * to the `__cell`-partitioned store without rewriting old lists.
    * Returns (id, __cell, vec) rows for the batch. */
  def ivfAppend(centroids: DataFrame, batch: DataFrame, idCol: String,
                vecCol: String, nlist: Int): DataFrame =
    if (nlist <= AssignInlineMaxNlist)
      assign(batch, idCol, vecCol, centroids)
    else assignJoin(batch, idCol, vecCol, centroids)

  /** Per-cell drift report for an [[ivfAppend]] round — the occupancy
    * growth a maintenance job watches to decide when a refit is due
    * (cells growing much faster than their indexed mass signal the new
    * data's distribution has moved off the frozen codebook). Both
    * inputs are (…, __cell, …) assignment frames; output is one row
    * per cell carrying appended vectors: (cell, n_indexed, n_appended,
    * growth = n_appended/n_indexed, 1e-6-rounded). Two map-side-combined
    * counts joined on the ≤nlist-row cell key — never a window, never
    * data-sized state. */
  def ivfDrift(indexed: DataFrame, appended: DataFrame): DataFrame = {
    val base = indexed.groupBy(col("__cell"))
      .agg(count(lit(1)).as("n_indexed"))
    val add = appended.groupBy(col("__cell"))
      .agg(count(lit(1)).as("n_appended"))
    add.join(base, Seq("__cell"))
      .select(col("__cell").cast("long").as("cell"), col("n_indexed"),
        col("n_appended"),
        (floor(col("n_appended").cast("double") /
          col("n_indexed").cast("double") * 1e6 + 0.5) / 1e6).as("growth"))
  }
}
