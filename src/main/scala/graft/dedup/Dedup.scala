package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Md5Prefix

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are shuffle-conscious: exact dedup is a single hash
  * aggregation on a digest key; MinHash/LSH shuffles once on band buckets
  * (the canonical near-dup join at scale — candidates are generated
  * per-bucket, never all-pairs); SimHash is computed in a single map pass
  * with no shuffle at all.
  */
object Dedup {

  /** Canonical word-set of a text column (order- and dup-insensitive). */
  def wordSet(text: Column): Column =
    array_distinct(split(trim(text), "\\s+"))

  /** Stable digest of the canonical word-set — the exact-dedup key. */
  def wordSetKey(text: Column): Column =
    md5(array_join(array_sort(wordSet(text)), " "))

  /** Word-level Jaccard similarity of two token-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact dedup: one representative (min id) + multiplicity per digest.
    * Map-side partial aggregation makes this a single cheap shuffle even
    * at 100 TB: the shuffled payload is (digest, partial min, partial n).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(wordSetKey(col(textCol)).as("dedup_key"), col(idCol))
      .groupBy("dedup_key")
      .agg(min(idCol).as("first_id"), count(lit(1)).as("n_docs"))

  /** Exact dedup keeping the BEST copy, not the first: one
    * representative per digest chosen by argmax score (min id on a
    * score tie — a FIXED rule, so the winner replays on any engine).
    * The production refinement of [[exactGroups]] once a quality score
    * exists: near-identical crawl copies differ in boilerplate damage,
    * and "first id wins" throws away the cleanest copy whenever it
    * isn't the earliest. Same single-shuffle shape — the argmax rides
    * the SAME map-side-combined aggregate as the count, as a
    * max-of-struct over (score, −id); null scores rank lowest (a
    * scored copy always beats an unscored one).
    * Output: (dedup_key, keep_id, keep_score, n_docs). */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
                    scoreCol: Column): DataFrame =
    df.select(wordSetKey(col(textCol)).as("dedup_key"),
        col(idCol).cast("long").as("__id"),
        scoreCol.cast("double").as("__score"))
      .groupBy("dedup_key")
      .agg(max(struct(
          coalesce(col("__score"), lit(Double.MinValue)).as("s"),
          (-col("__id")).as("ni"))).as("win"),
        count(lit(1)).as("n_docs"))
      .select(col("dedup_key"), (-col("win.ni")).as("keep_id"),
        when(col("win.s") === Double.MinValue, lit(null))
          .otherwise(col("win.s")).as("keep_score"),
        col("n_docs"))

  /** Duplicate-count sampling weights — the keep-EVERYTHING alternative
    * to dropping dups: each document weighted 1/n over its exact-dedup
    * multiplicity, so a page crawled 40 times contributes one page's
    * worth of gradient (the standard de-duplication-by-reweighting
    * regime when provenance must be preserved). Shape: the
    * [[exactGroups]] single-shuffle aggregate joined back on the digest
    * — two shuffles total, both on the digest key, co-partitioned.
    * Output (id, dedup_key, n_docs, weight = 1/n, 1e-6-rounded). */
  def dupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol).cast("long").as("id"),
      wordSetKey(col(textCol)).as("dedup_key"))
    val groups = keyed.groupBy("dedup_key")
      .agg(count(lit(1)).as("n_docs"))
    keyed.join(groups, "dedup_key")
      .select(col("id"), col("dedup_key"), col("n_docs"),
        (floor(lit(1e6) / col("n_docs").cast("double") + 0.5) / 1e6)
          .as("weight"))
  }

  /** Incremental dedup of a NEW batch against an existing corpus index —
    * the daily-ingest production shape: the index's digest table is
    * computed once (in production: persisted, bucketed by digest) and
    * each incoming batch checks membership against it instead of
    * re-deduplicating the whole corpus.
    *
    * Output, one row per batch document:
    * (id, dedup_key, dup_of_index, keep) — `dup_of_index` is the
    * smallest index id with the same canonical word-set digest (null if
    * unseen), and `keep` is true iff the digest is absent from the index
    * AND this is the smallest batch id carrying it (batch-internal dups
    * resolve in the same pass).
    *
    * Both sides collapse to (digest, min id) with map-side partials
    * before any join, so the joins carry unique digests — duplicate-heavy
    * batches (the realistic regime) add no join work.
    */
  def incrementalExact(batch: DataFrame, index: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val bk = batch.select(col(idCol), wordSetKey(col(textCol)).as("dedup_key"))
    val idx = index
      .select(wordSetKey(col(textCol)).as("dedup_key"), col(idCol).as("__iid"))
      .groupBy("dedup_key").agg(min("__iid").as("dup_of_index"))
    val firstInBatch = bk.groupBy("dedup_key").agg(min(idCol).as("__bfirst"))
    bk.join(idx, Seq("dedup_key"), "left")
      .join(firstInBatch, Seq("dedup_key"))
      .select(col(idCol), col("dedup_key"), col("dup_of_index"),
        (col("dup_of_index").isNull && col(idCol) === col("__bfirst"))
          .as("keep"))
  }

  // ---------------- MinHash + LSH ----------------

  /** numHashes minhash values; hash family = xxhash64(shingle, seed=i),
    * computed by the single-pass codegen'd [[graft.functions.MinHashSignature]]
    * expression (bit-identical to the composable
    * `array_min(transform(...))` form, one traversal instead of numHashes).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.MinHashSignature.signature(shingles, numHashes)

  /** One hash per band over the signature slice (bands x rows = numHashes). */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(array_join(slice(sig, b * rows + 1, rows), "_"), lit(b))
    }: _*)

  /** LSH candidate pairs: documents sharing at least one band bucket.
    * The self-join is keyed on (band, bucket) — a hash-partitioned join
    * whose cost scales with bucket occupancy, not n^2.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val sets = df.select(col(idCol), wordSet(col(textCol)).as("__set"))
    bandedCandidates(sets, idCol, "__set", numHashes, bands)
  }

  /** Banded LSH self-join over a (id, set) table. Not cached: the
    * single-pass signature expression makes recomputing the band table
    * for the second join side cheaper than a cluster-wide MEMORY_AND_DISK
    * cache (which at corpus scale would spill the whole signature table
    * to executor disk and leak until unpersist). At 100 TB, materialize
    * this stage explicitly to a staging table instead.
    */
  private def bandedCandidates(sets: DataFrame, idCol: String, setCol: String,
                               numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val sigs = sets
      .withColumn("__sig", minhashSignature(col(setCol), numHashes))
      .withColumn("__bands", bandHashes(col("__sig"), bands, rows))
      .select(col(idCol), posexplode(col("__bands")).as(Seq("band", "bucket")))
    val a = sigs.toDF(s"${idCol}_a", "band", "bucket")
    val b = sigs.toDF(s"${idCol}_b", "band_b", "bucket_b")
    a.join(b, a("band") === b("band_b") && a("bucket") === b("bucket_b")
        && a(s"${idCol}_a") < b(s"${idCol}_b"))
      .select(s"${idCol}_a", s"${idCol}_b")
      .distinct()
  }

  /** MinHash near-dup pairs, verified with the true Jaccard similarity.
    *
    * Two scale levers over the naive banded join:
    *
    * 1. LSH runs at the UNIQUE-word-set level: exact duplicates share
    *    identical signatures, band buckets, and pairwise Jaccard, so the
    *    corpus first collapses to one representative per word-set digest;
    *    verified digest pairs expand back to document pairs (plus the
    *    within-digest pairs, whose Jaccard is 1.0 by construction).
    *    Candidate work scales with |unique templates|, not |copies|.
    *
    * 2. The candidate join is FUSED with verification (the MLlib
    *    `approxSimilarityJoin` shape): each side carries its band-hash
    *    array and sorted set through the (band, bucket) self-join; a
    *    pair is kept only in the band where the signatures FIRST collide
    *    ([[graft.functions.FirstEqualIndex]] — dedup inside the join
    *    stage, no corpus-scale `distinct` shuffle of the pair stream),
    *    and the true Jaccard evaluates right there via a sorted-merge
    *    intersection ([[graft.functions.SortedJaccard]], zero
    *    allocation, `|A∪B| = |A|+|B|-|A∩B|`). One shuffle of the
    *    16x-replicated unique-set table replaces three shuffles of the
    *    (much larger) candidate-pair stream.
    *
    * The output is row-identical to the naive doc-level form.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 64,
                      bands: Int = 16): DataFrame = {
    val aCol = s"${idCol}_a"
    val bCol = s"${idCol}_b"
    val rows = numHashes / bands
    // members is read FOUR times downstream (both sides of the verified
    // pair expansion, both sides of the exact-dup self-join) and each
    // read re-ran the md5-of-sorted-word-set digest per document —
    // pinned once (round 19, guide §2.4). Same for the per-digest
    // signature/band frame, whose two posexploded join sides cannot
    // rely on exchange reuse across the band-key rename.
    val members = graft.operators.Checkpoints.pin(
      df.select(col(idCol), wordSetKey(col(textCol)).as("__dig")))
    // per unique set: the minhash signature stays on the STRING set (the
    // r01-identical hash family / candidate buckets), while verification
    // uses the sorted word-HASH set — primitive-long merge kernel
    val prep = graft.operators.Checkpoints.pin(
      df.select(wordSetKey(col(textCol)).as("__dig"),
        wordSet(col(textCol)).as("__set"))
      .dropDuplicates("__dig")
      .withColumn("__hset", array_sort(transform(col("__set"), w => xxhash64(w))))
      .withColumn("__sig", minhashSignature(col("__set"), numHashes))
      .withColumn("__bands", bandHashes(col("__sig"), bands, rows))
      .select(col("__dig"), col("__hset"), col("__bands")))
    val reps = prep.select(col("__dig"), col("__hset"), col("__bands"),
      posexplode(col("__bands")).as(Seq("band", "bucket")))

    bandedVerifyExpand(reps, members, aCol, bCol, threshold)
  }

  /** The fused banded verify + document expansion shared by every
    * MinHash family: `reps` carries one row per (unique digest, band)
    * with columns (__dig, __hset, __bands, band, bucket); `members`
    * maps documents to digests. Family-independent — band buckets only
    * need to be equal-comparable longs. */
  private def bandedVerifyExpand(reps: DataFrame, members: DataFrame,
                                 aCol: String, bCol: String,
                                 threshold: Double): DataFrame = {
    val a = reps.toDF("__dig_a", "__hset_a", "__bands_a", "band", "bucket")
    val b = reps.toDF("__dig_b", "__hset_b", "__bands_b", "band_b", "bucket_b")
    val jac = graft.functions.SortedJaccard(col("__hset_a"), col("__hset_b"))
    // The ENTIRE verification lives in the join condition, authored in
    // cheap-to-expensive order so codegen short-circuits do the pruning:
    //   1. id order (halves the stream)
    //   2. size-ratio bound — exact necessary condition for J >= t,
    //      since J <= min(|A|,|B|)/max(|A|,|B|): two int ops
    //   3. first-colliding-band dedup (<= bands long compares) — the
    //      exactly-once guarantee that replaces a pair-stream distinct()
    //   4. the true Jaccard, one fused merge per surviving pair
    // (Authoring it inline, rather than as post-join filters, pins this
    // order — pushed-down filters land in optimizer-chosen order.)
    val verified = a.join(b,
        a("band") === b("band_b") && a("bucket") === b("bucket_b")
          && a("__dig_a") < b("__dig_b")
          && least(size(col("__hset_a")), size(col("__hset_b"))).cast("double")
            >= lit(threshold) * greatest(size(col("__hset_a")), size(col("__hset_b")))
          && graft.functions.FirstEqualIndex(col("__bands_a"), col("__bands_b"))
            === col("band")
          && jac >= threshold)
      // jac re-evaluates here for SURVIVORS only (the fused expression
      // cannot be shared across a join condition and a projection) —
      // one extra merge per verified pair, not per candidate
      .select(col("__dig_a"), col("__dig_b"), jac.as("jaccard"))

    // expand verified digest pairs to document pairs (id_a < id_b)
    val cross = verified
      .join(members.toDF("__x", "__dig_a"), Seq("__dig_a"))
      .join(members.toDF("__y", "__dig_b"), Seq("__dig_b"))
      .select(least(col("__x"), col("__y")).as(aCol),
        greatest(col("__x"), col("__y")).as(bCol),
        round(col("jaccard"), 3).as("jaccard"))

    // exact duplicates: every within-digest pair is a near-dup at J=1.0
    val m1 = members.toDF(aCol, "__dig")
    val m2 = members.toDF(bCol, "__dig2")
    val within = m1.join(m2, col("__dig") === col("__dig2")
        && col(aCol) < col(bCol))
      .select(col(aCol), col(bCol), lit(1.0).as("jaccard"))

    if (threshold <= 1.0) cross.unionByName(within) else cross
  }

  /** Single-pass LSH dedup decision: each doc's representative is the
    * smallest id sharing any of its band buckets (self included). O(n)
    * output — the scalable alternative to materializing all near-dup
    * pairs. One groupBy per bucket + one join back; not transitively
    * closed (a chain a~b~c may keep b), which is the standard trade for
    * one-pass dedup at corpus scale.
    */
  def minhashRepresentatives(df: DataFrame, idCol: String, textCol: String,
                             numHashes: Int = 64, bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    // Digest collapse (as in [[minhashNearDups]]): identical word-sets
    // share all buckets, so banding runs once per unique set; each
    // digest carries the min id of its exact-duplicate group, buckets
    // take their min over digests, and the result expands back to one
    // row per document. Identical output to doc-level banding — the
    // bucket min over doc ids equals the min over per-digest min ids.
    // NULL text gets a sentinel digest (md5 hex is never empty, so ""
    // cannot collide): equi-joins on __dig would otherwise drop
    // null-text documents from the keep/drop decision entirely, where
    // doc-level banding grouped them (identical all-null signatures).
    val dig = coalesce(wordSetKey(col(textCol)), lit(""))
    // two readers (digMin + the final membership join), each re-running
    // the md5 word-set digest per document unpinned (round 19)
    val members = graft.operators.Checkpoints.pin(
      df.select(col(idCol), dig.as("__dig")))
    val digMin = members.groupBy("__dig").agg(min(idCol).as("__dmin"))
    val bandRows = df
      .select(dig.as("__dig"), wordSet(col(textCol)).as("__set"))
      .dropDuplicates("__dig")
      .withColumn("__sig", minhashSignature(col("__set"), numHashes))
      .withColumn("__bands", bandHashes(col("__sig"), bands, rows))
      .select(col("__dig"), posexplode(col("__bands")).as(Seq("band", "bucket")))
      .join(digMin, Seq("__dig"))
    // Per-bucket min via a partial-aggregating groupBy + join-back, NOT
    // a window: digest collapse bounds occupancy by unique templates,
    // but a corpus of near-identical DISTINCT templates can still land
    // thousands of digests in one (band, bucket). A window puts that
    // whole partition on a single task and sorts it; the groupBy's
    // map-side combine collapses the hot bucket to one partial row per
    // map task, and the join-back is AQE-skew-splittable. Both sides
    // hash-partition on (band, bucket), so the bandRows exchange is
    // reused — the data still shuffles once.
    representativeAssign(bandRows, members, idCol)
  }

  /** Per-bucket min → per-digest min → expand to documents; shared by
    * every MinHash family. `bandRows` = (__dig, band, bucket, __dmin),
    * `members` = (id, __dig). See [[minhashRepresentatives]] for why
    * this is a groupBy + join-back and not a window. */
  private def representativeAssign(bandRows: DataFrame, members: DataFrame,
                                   idCol: String): DataFrame = {
    // bandRows feeds the bucket-min aggregate AND the join-back —
    // pinned once so the signature/band build runs once (round 19)
    val pinnedBands = graft.operators.Checkpoints.pin(bandRows)
    val bucketMin = pinnedBands.groupBy("band", "bucket")
      .agg(min("__dmin").as("__bucket_min"))
    val digRep = pinnedBands.select("__dig", "band", "bucket")
      .join(bucketMin, Seq("band", "bucket"))
      .groupBy("__dig")
      .agg(min("__bucket_min").as("rep_id"))
    members.join(digRep, Seq("__dig"))
      .select(col(idCol), col("rep_id"),
        (col(idCol) === col("rep_id")).as("is_kept"))
  }

  /** Transitive near-dup groups: every document's `component_id` is the
    * MIN doc id reachable through the pair list (connected components of
    * the near-dup graph). Closes the chain problem the one-pass
    * representatives trade away: pairs a~b, b~c put a, b, c in ONE group
    * even though a~c was never emitted.
    *
    * Both branches start from the same pin: the DIRECTED pair list,
    * cast to long, with endpoints outside `nodes` dropped. Its size
    * picks the branch.
    *
    * At or under [[DriverPairCap]] pairs, the pin is fetched with one
    * [[graft.operators.BoundedCollect]] and the components finish on
    * the driver: a union-find over primitive `Long`/`Int` arrays with
    * the minimum id as the root. The non-root labels go back to the
    * cluster as an RDD-backed frame, and `nodes` left-joins them, so a
    * node no pair touches keeps its own id. At the cap the driver
    * peaks near 130 MB (see [[DriverPairCap]]). The branch runs a
    * fixed handful of jobs, whatever the graph's diameter.
    *
    * Over the cap, a distributed fixpoint: min-label propagation with
    * pointer doubling. Each round a node takes the min of (its label,
    * its neighbors' labels, its LABEL's label). The neighbor step alone
    * needs O(diameter) rounds; the label-of-label shortcut halves
    * remaining path lengths every round (the classic
    * pointer-doubling/star-contraction idea), so convergence is
    * O(log diameter) when ids increase along paths — a 100-node chain
    * closes in 6 rounds. Ids scattered along a long path defeat the
    * shortcut: a 500-node path of scattered ids needs 236 rounds (a
    * simulation of this round rule), far past `maxIters`. Each round is a
    * bounded number of hash-join shuffles of (node, label) + the edge
    * list, pinned by a [[graft.operators.Checkpoints.Rolling]] pin that
    * truncates the plan lineage (an iterative DataFrame loop otherwise
    * re-plans the entire history each round and the driver, not the
    * cluster, becomes the bottleneck). The convergence check is one
    * aggregate per round — an O(iters) driver action sequence, inherent
    * to fixpoint loops. `maxIters` and the per-round pins apply to
    * this branch only.
    *
    * Either way the result is pinned, with one row per distinct node
    * id: (`idCol` LONG, `component_id` LONG), and a null node id gives
    * one (null, null) row.
    *
    * @param pairs undirected near-dup pairs (one row per pair, any order)
    * @param nodes the full node set — isolated documents keep their own
    *              id as `component_id` (they form singleton groups)
    * @param maxIters the fixpoint's round budget (over the cap only)
    * @param checkpointDir when set, the pins use RELIABLE `checkpoint()`
    *              into this directory (HDFS/object store on a real
    *              cluster) instead of the session default. Local
    *              checkpoints live on executor disk: an executor loss
    *              mid-fixpoint kills the job, because the truncated
    *              lineage cannot recompute the lost blocks. At 100 TB run
    *              with a reliable dir; local mode is fine for dev/CI.
    *              Labels are identical either way (`ComponentsSpec`).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          nodes: DataFrame, idCol: String,
                          maxIters: Int = 25,
                          checkpointDir: Option[String] = None): DataFrame = {
    // materialize the DIRECTED pair list first: the fixpoint's
    // undirected edge union references it twice, and truncating only
    // after the union would run the (expensive) pair generation once per
    // direction. Endpoints outside `nodes` are dropped HERE (two
    // semi-joins of the pair list, once) — the pre-r19 shape dropped
    // them implicitly every round; kept, they would bridge components
    // in the union-find and come back as phantom components from the
    // fixpoint's message-union round
    val nodeIds = nodes.select(col(idCol).cast("long").as("u"))
    val p0 = graft.operators.Checkpoints.pin(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .join(nodeIds, Seq("u"), "left_semi")
      .join(nodeIds.select(col("u").as("v")), Seq("v"), "left_semi")
      .select("u", "v"), checkpointDir)
    val fetched = graft.operators.BoundedCollect(p0, driverPairCap)
      .map(rows => (rows.map(_.getLong(0)), rows.map(_.getLong(1))))
    val out = fetched match {
      case Some((us, vs)) =>
        val labels = driverLabels(p0.sparkSession, minRoots(us, vs))
        graft.operators.Checkpoints.pin(nodeIds.distinct()
          .join(labels, Seq("u"), "left")
          .select(col("u"), coalesce(col("root"), col("u")).as("lbl")),
          checkpointDir)
      case None => fixpointLabels(p0, nodeIds, maxIters, checkpointDir)
    }
    out.select(col("u").as(idCol), col("lbl").as("component_id"))
  }

  /** Max directed pairs [[connectedComponents]] fetches to finish on the
    * driver. Collected as `Row`s, a pair costs ~100 bytes of driver
    * heap, not its 16 bytes of payload: fetches of 250k and 1M pairs
    * grew the retained heap by 25.5 and 100.7 MB (JDK 17, Spark 4.1,
    * after a full GC). The rows are dropped once their two endpoint
    * arrays are built; from there the union-find's primitive arrays
    * hold at most ~130 bytes a pair (every endpoint distinct), so a
    * cap-sized graph peaks near 130 MB, and took 0.4 s of union-find
    * with 2M distinct endpoints. Over the cap the distributed fixpoint
    * runs. */
  val DriverPairCap: Long = 1000000L

  /** The cap actually consulted — test-overridable so both branches run
    * at spec scale (`ComponentsSpec`). Production never touches this. */
  @volatile private[graft] var driverPairCap: Long = DriverPairCap

  /** Run `body` with the driver pair cap forced to `cap` (test hook). */
  private[graft] def withDriverPairCap[A](cap: Long)(body: => A): A = {
    val prev = driverPairCap
    driverPairCap = cap
    try body finally driverPairCap = prev
  }

  /** Union-find over the edges `us(i)`–`vs(i)`, every root the minimum
    * id of its set. Returns the non-root nodes and their roots as two
    * aligned arrays (a node absent from both is its own root). */
  private def minRoots(us: Array[Long],
                       vs: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = {
      val all = us ++ vs
      java.util.Arrays.sort(all)
      var n = 0
      var i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, n)
    }
    // ids are sorted, so the smaller index is the smaller id
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    var e = 0
    while (e < us.length) {
      val a = find(java.util.Arrays.binarySearch(ids, us(e)))
      val b = find(java.util.Arrays.binarySearch(ids, vs(e)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 1
    }
    val root = Array.tabulate(ids.length)(find)
    val children = ids.indices.filter(i => root(i) != i).toArray
    (children.map(ids), children.map(i => ids(root(i))))
  }

  /** (u, root) as a frame over an RDD of array chunks — not a
    * `LocalRelation`, which would embed every row in each plan that
    * reads it. An RDD leaf has no size statistic, so the planner would
    * shuffle both sides of the join that reads it; its size is known
    * here, so the frame carries a broadcast hint when it is under
    * `spark.sql.autoBroadcastJoinThreshold` at 24 bytes a row. */
  private def driverLabels(spark: org.apache.spark.sql.SparkSession,
                           labels: (Array[Long], Array[Long])): DataFrame = {
    import spark.implicits._
    val (ids, roots) = labels
    val chunk = 1 << 18
    val chunks = ids.grouped(chunk).zip(roots.grouped(chunk)).toSeq
    val df = spark.sparkContext.parallelize(chunks, math.max(1, chunks.size))
      .flatMap { case (us, rs) => us.iterator.zip(rs.iterator) }
      .toDF("u", "root")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      .trim match {
        case v if v.startsWith("-") => -1L
        case v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
      }
    if (ids.length * 24L <= threshold) broadcast(df) else df
  }

  /** The distributed branch of [[connectedComponents]]: pointer-doubling
    * min-label rounds over the pinned directed pairs `p0` (u, v) and the
    * node ids `nodeIds` (u), returning the final round's pin as
    * (u, lbl). */
  private def fixpointLabels(p0: DataFrame, nodeIds: DataFrame,
                             maxIters: Int,
                             checkpointDir: Option[String]): DataFrame = {
    // the per-round label pins: each releases the superseded round's
    // blocks once the new round is materialized, so the fixpoint holds
    // one round of blocks, never the p0/edges blocks every round reads
    val roll = new graft.operators.Checkpoints.Rolling(checkpointDir)
    // both orientations, pinned PARTITIONED BY `v` when large (round
    // 20, guide §2.4): every fixpoint round's neighbor join probes the
    // union on v, and the checkpoint preserves the partitioning — one
    // exchange at pin time instead of one per round once the label
    // frame outgrows a broadcast. Small inputs keep the lazy union
    // over the pinned p0 blocks (re-deriving a union from blocks is
    // cheaper than a second materialization).
    val edges = graft.operators.Checkpoints.pinIfLargeKeyed(
      p0.unionAll(
        p0.select(col("v").as("u"), col("u").as("v"))),
      col("v"), checkpointDir)
    var labels = roll(nodeIds.select(col("u"), col("u").as("lbl")))
    // Convergence rides the SUM of labels (exact decimal — no Long
    // overflow over corpus-sized id sums): every update strictly
    // DECREASES a label, so sum(lbl) is strictly decreasing until the
    // fixpoint and equality proves it — one cheap scan of the block
    // the checkpoint just materialized, in place of the former
    // per-round filter+count (the KCore carry-the-count pattern).
    import org.apache.spark.sql.types.DecimalType
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast(DecimalType(38, 0))).as("s"))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    // The fixpoint rounds run ADAPTIVE (round 19 re-measure): the
    // interim static-planning wrapper cut the job count but the
    // checkpointed label/edge blocks scan as stats-less LogicalRDDs,
    // so without AQE the per-round joins lose their runtime broadcast
    // rewrites and plan as sort-merge — pipeline_entity_resolution
    // (which inherits this loop) measured 4.9 s static vs 2.9 s
    // adaptive, solo best-of-3. AQE is also the scale-adaptive choice
    // at 100 TB (broadcast while a side fits, shuffle join beyond).
    while (!converged && i < maxIters) {
      // ONE message union + ONE min-aggregation per round (round 19;
      // the former shape — grouped neighbor-min, then two left joins
      // to merge it with the label-of-label hop — paid four shuffled
      // operators per round; the union needs two joins and one
      // aggregation for the same fixpoint step).
      // A node's candidate labels: its own (covers isolated nodes),
      // its neighbors', and its label's label FOUR hops deep. Labels
      // are monotone (lbl(x) <= x, by induction from lbl(x) = x at
      // init and min-updates thereafter), so the 4-hop jump subsumes
      // the 1-/2-hop values under min — pointer depth quadruples per
      // round instead of doubling, and the round count drops to
      // ~log4 of the propagation diameter.
      val nbr = edges
        .join(labels.select(col("u").as("v"), col("lbl")), Seq("v"))
        .select("u", "lbl")
      val j2 = labels
        .join(labels.select(col("u").as("lbl"), col("lbl").as("l2")),
          Seq("lbl"))
        .select(col("u"), col("l2"))
      val j4 = j2
        .join(j2.select(col("u").as("l2"), col("l2").as("l4")), Seq("l2"))
        .select(col("u"), col("l4").as("lbl"))
      labels = roll(
        labels.unionAll(nbr).unionAll(j4)
          .groupBy("u").agg(min("lbl").as("lbl")))
      val newSum = labelSum(labels)
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds")
    labels
  }

  // ---------------- md5-keyed replayable family ----------------
  //
  // Same operators as the xxhash64 family above, with every random draw
  // derived from md5 — the one hash both this engine and any SQL oracle
  // (DuckDB, Postgres, BigQuery) can recompute bit-for-bit, so the LSH
  // candidate sets themselves become cross-engine verifiable instead of
  // rows-only-checkable. The xx64 family stays the production default
  // (xxhash64 is ~4x cheaper per call and fused into single-pass codegen
  // kernels); this family is the migration-validation / audit variant.
  //
  // MinHash here is the classic affine universal family over a 32-bit
  // md5 word hash: h_i(w) = (a_i * m(w) + b_i) mod P with P prime just
  // above 2^32 and a_i < 2^30, so every product stays below 2^62 — no
  // overflow under ANSI arithmetic in EITHER engine (DuckDB BIGINT
  // errors on overflow too). The (a_i, b_i) are fixed constants derived
  // from md5("a:i")/md5("b:i") at plan-build time and inlined as
  // literals into both the Spark plan and generated oracle SQL, so the
  // two sides cannot drift.

  /** Prime just above 2^32 — the modulus of the md5 affine family. */
  val Md5P: Long = 4294967311L

  private def md5Long(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Deterministic affine coefficients (a_i in [1, 2^30), b_i in [0, P)). */
  def md5AffineCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      ((md5Long(s"a:$i") % ((1L << 30) - 1)) + 1, md5Long(s"b:$i") % Md5P)
    }

  /** 32-bit word hash any engine replays: first 8 hex chars of md5. */
  def md5WordHash32(w: Column): Column =
    Md5Prefix(w, 8)

  /** Per-digest md5 MinHash signature, computed by EXPLODING the word
    * set and taking `numHashes` min-aggregates — one md5 per (digest,
    * word) total, where the column-expression form would recompute the
    * md5 under every one of the k lambda traversals (CollapseProject
    * inlines a shared projection into each use). One extra shuffle on
    * the digest, fully map-side combined. */
  private def md5SigTable(uniq: DataFrame, setCol: String,
                          numHashes: Int): DataFrame = {
    val aggs = md5AffineCoeffs(numHashes).zipWithIndex.map {
      case ((a, b), i) =>
        min((col("__m") * lit(a) + lit(b)) % lit(Md5P)).as(s"__s$i")
    }
    uniq.select(col("__dig"), explode(col(setCol)).as("__w"))
      .withColumn("__m", md5WordHash32(col("__w")))
      .groupBy("__dig")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__dig"),
        array((0 until numHashes).map(i => col(s"__s$i")): _*).as("__sig"))
  }

  /** Band bucket as a replayable long: 60-bit md5 prefix of
    * "band_sig1_sig2_..." — `array_join` of longs cast to string matches
    * any engine's integer-to-decimal-string rendering. */
  def md5BandHashes(sig: Column, bands: Int, rows: Int): Column =
    // array_compact: the elements are provably non-null (md5 of a
    // non-null concat) but typed nullable through conv/cast — compact
    // re-types the array containsNull=false for FirstEqualIndex
    array_compact(array((0 until bands).map { bnd =>
      Md5Prefix(concat(lit(s"${bnd}_"),
        array_join(transform(slice(sig, bnd * rows + 1, rows),
          x => x.cast("string")), "_")), 15)
    }: _*))

  /** [[minhashNearDups]] with the md5 affine family — identical fused
    * banded join, digest collapse, and verification; only the signature
    * and band-bucket draws differ. Output is exactly what a SQL oracle
    * recomputes from the same inlined constants. */
  def minhashNearDupsMd5(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, numHashes: Int = 64,
                         bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    // same pin set as the xx64 family (round 19, guide §2.4): members
    // has four downstream readers, uniq two (the signature aggregation
    // and the join-back), the signature/band frame two exploded sides
    val members = graft.operators.Checkpoints.pin(
      df.select(col(idCol), wordSetKey(col(textCol)).as("__dig")))
    val uniq = graft.operators.Checkpoints.pin(
      df.select(wordSetKey(col(textCol)).as("__dig"),
        wordSet(col(textCol)).as("__set"))
      .dropDuplicates("__dig"))
    val prep = graft.operators.Checkpoints.pin(
      uniq.join(md5SigTable(uniq, "__set", numHashes), Seq("__dig"))
      .withColumn("__hset", array_sort(transform(col("__set"), w => xxhash64(w))))
      .withColumn("__bands", md5BandHashes(col("__sig"), bands, rows))
      .select(col("__dig"), col("__hset"), col("__bands")))
    val reps = prep.select(col("__dig"), col("__hset"), col("__bands"),
      posexplode(col("__bands")).as(Seq("band", "bucket")))
    bandedVerifyExpand(reps, members, s"${idCol}_a", s"${idCol}_b", threshold)
  }

  /** [[minhashRepresentatives]] with the md5 affine family. */
  def minhashRepresentativesMd5(df: DataFrame, idCol: String, textCol: String,
                                numHashes: Int = 64,
                                bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    val dig = coalesce(wordSetKey(col(textCol)), lit(""))
    // two readers (digMin + the final membership join) — pinned once
    val members = graft.operators.Checkpoints.pin(
      df.select(col(idCol), dig.as("__dig")))
    val digMin = members.groupBy("__dig").agg(min(idCol).as("__dmin"))
    val uniq = graft.operators.Checkpoints.pin(
      df.select(dig.as("__dig"), wordSet(col(textCol)).as("__set"))
      .dropDuplicates("__dig"))
    // LEFT join + all-null fallback signature: md5SigTable builds
    // signatures by exploding the word set, so the null-text sentinel
    // digest ("" — its set is NULL, explode emits nothing) has no
    // signature row; an inner join would silently drop those documents
    // from the keep/drop decision. The all-null signature mirrors
    // MinHashSignature's behavior on a null set in the xx64 family, so
    // both families band null-text docs into the same deterministic
    // buckets instead of losing them.
    val nullSig = array(
      (0 until numHashes).map(_ => lit(null).cast("long")): _*)
    val bandRows = uniq
      .join(md5SigTable(uniq, "__set", numHashes), Seq("__dig"), "left")
      .withColumn("__sig", coalesce(col("__sig"), nullSig))
      .withColumn("__bands", md5BandHashes(col("__sig"), bands, rows))
      .select(col("__dig"), posexplode(col("__bands")).as(Seq("band", "bucket")))
      .join(digMin, Seq("__dig"))
    representativeAssign(bandRows, members, idCol)
  }

  /** 60-bit md5 SimHash (the replayable sibling of [[withSimHash]]):
    * per distinct word the 60-bit md5 prefix, each bit voting +1/−1,
    * final bit set iff its vote sum is strictly positive. Explode +
    * 60 sum-aggregates — one md5 per (doc, word), map-side combined;
    * the disjoint power-of-two bit terms recombine by plain addition. */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 60
    val votes = (0 until bits).map { i =>
      sum(when(shiftrightunsigned(col("__h"), i).bitwiseAND(lit(1L)) === lit(1L),
        lit(1)).otherwise(lit(-1))).as(s"__v$i")
    }
    val hash = (0 until bits).map { i =>
      when(col(s"__v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), explode(wordSet(col(textCol))).as("__w"))
      .withColumn("__h", Md5Prefix(col("__w"), 15))
      .groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), hash.as("simhash"))
  }

  /** Corpus-level vocabulary overlap between two document sets — the
    * "how much does source A's word space overlap source B's" audit a
    * mixing policy consumes before blending corpora. Returns ONE row:
    *
    *  - `n_agree` / `estimate`: the MinHash resemblance estimate —
    *    each corpus's signature component i is the min of the md5
    *    affine hash h_i over ALL its words (a corpus is one giant set;
    *    the min distributes over the union of its documents' word
    *    sets), and the estimate is the fraction of agreeing
    *    components. This is what you'd compute at 100 TB: one pure-map
    *    pass + a numHashes-wide aggregate per corpus, no word-level
    *    join — and being md5-derived it replays exactly in a SQL
    *    oracle, estimator bias and all.
    *  - `exact_jaccard`: |A ∩ B| / |A ∪ B| over the distinct-word
    *    vocabularies, for calibration. Costs a distinct + join on the
    *    word space — fine at vocabulary scale (vocabularies grow
    *    sub-linearly in corpus size), and the number the estimate
    *    approximates.
    */
  def corpusOverlapMd5(a: DataFrame, b: DataFrame, textCol: String,
                       numHashes: Int = 64): DataFrame = {
    val cs = md5AffineCoeffs(numHashes)
    def sigRow(df: DataFrame, prefix: String): DataFrame = {
      val aggs = cs.zipWithIndex.map { case ((ai, bi), i) =>
        min((col("__m") * lit(ai) + lit(bi)) % lit(Md5P)).as(s"$prefix$i")
      }
      df.select(explode(wordSet(col(textCol))).as("__w"))
        .select(md5WordHash32(col("__w")).as("__m"))
        .agg(aggs.head, aggs.tail: _*)
    }
    def vocab(df: DataFrame): DataFrame =
      df.select(explode(wordSet(col(textCol))).as("__w")).distinct()
    val agree = (0 until numHashes).map(i =>
      when(col(s"__sa$i") === col(s"__sb$i"), 1).otherwise(0))
      .reduce(_ + _)
    val va = vocab(a)
    val vb = vocab(b)
    val sizes = va.agg(count(lit(1)).as("__na"))
      .crossJoin(vb.agg(count(lit(1)).as("__nb")))
      .crossJoin(va.join(vb, Seq("__w")).agg(count(lit(1)).as("__ni")))
    sigRow(a, "__sa").crossJoin(sigRow(b, "__sb")).crossJoin(sizes)
      .select(agree.as("n_agree"),
        round(agree.cast("double") / numHashes, 3).as("estimate"),
        round(col("__ni").cast("double") /
          (col("__na") + col("__nb") - col("__ni")), 3).as("exact_jaccard"))
  }

  /** Doc-level (id, band, bucket) rows from the md5 affine family —
    * the replayable banded-signature table (streaming claim replays,
    * audits). Digest-collapsed internally, expanded back per document. */
  def md5BandedDocs(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 64, bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    val members = df.select(col(idCol), wordSetKey(col(textCol)).as("__dig"))
    val uniq = df.select(wordSetKey(col(textCol)).as("__dig"),
        wordSet(col(textCol)).as("__set"))
      .dropDuplicates("__dig")
    val bandRows = uniq.join(md5SigTable(uniq, "__set", numHashes), Seq("__dig"))
      .withColumn("__bands", md5BandHashes(col("__sig"), bands, rows))
      .select(col("__dig"), posexplode(col("__bands")).as(Seq("band", "bucket")))
    members.join(bandRows, Seq("__dig")).select(idCol, "band", "bucket")
  }

  /** [[simhashNearDups]] over the md5 simhash: block on the high 16 of
    * the 60 bits, verify hamming within blocks. */
  def simhashNearDupsMd5(df: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 8): DataFrame = {
    val hashed = simhashMd5(df, idCol, textCol)
      .withColumn("block", shiftrightunsigned(col("simhash"), 44))
    val a = hashed.toDF(s"${idCol}_a", "sim_a", "block")
    val b = hashed.toDF(s"${idCol}_b", "sim_b", "block_b")
    a.join(b, a("block") === b("block_b") && a(s"${idCol}_a") < b(s"${idCol}_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(s"${idCol}_a", s"${idCol}_b", "hamming")
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash computed in one pass per row (no shuffle): per-word
    * xxhash64, each bit votes +1/-1, final bit = sign of the vote sum —
    * fused into the single codegen'd [[graft.functions.SimHash64]]
    * expression (bit-identical to the SQL-lambda `aggregate`/`zip_with`
    * form it replaces, without the per-word 64-slot array allocations).
    */
  def withSimHash(df: DataFrame, textCol: String, out: String): DataFrame =
    df.withColumn(out,
      graft.functions.SimHash64(split(trim(col(textCol)), "\\s+")))

  /** SimHash near-dup pairs: block on the high 16 bits (single shuffle),
    * then verify hamming distance <= maxHamming within each block.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 8): DataFrame = {
    val hashed = withSimHash(df, textCol, "simhash")
      .withColumn("block", shiftrightunsigned(col("simhash"), 48))
      .select(idCol, "simhash", "block")
    val a = hashed.toDF(s"${idCol}_a", "sim_a", "block")
    val b = hashed.toDF(s"${idCol}_b", "sim_b", "block_b")
    a.join(b, a("block") === b("block_b") && a(s"${idCol}_a") < b(s"${idCol}_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(s"${idCol}_a", s"${idCol}_b", "hamming")
  }

  /** Exact windowed n-gram-Jaccard pairs (deterministic; oracle-friendly):
    * candidate blocking = id distance <= window, then true Jaccard filter.
    * The blocked join is a range join on ids — at scale, replace the window
    * with MinHash banding above; this variant exists for exact verification.
    */
  def jaccardPairsWindowed(df: DataFrame, idCol: String, textCol: String,
                           window: Int, threshold: Double): DataFrame = {
    // A raw range join (id_b <= id_a + window) plans as a nested-loop over
    // all n^2 pairs. Blocking on floor(id/window) turns it into a hash
    // equi-join: a partner within `window` lives in the same or the next
    // id-block, so the left side probes exactly two block keys.
    val sets = df.select(col(idCol), wordSet(col(textCol)).as("__set"))
    val a = sets.toDF("id_a", "__set_a")
      .withColumn("__blk", explode(array(floor(col("id_a") / window),
        floor(col("id_a") / window) + 1)))
    val b = sets.toDF("id_b", "__set_b")
      .withColumn("__blk", floor(col("id_b") / window))
    a.join(b, Seq("__blk"))
      .filter(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + window)
      .withColumn("jaccard", jaccard(col("__set_a"), col("__set_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs: |A ∩ B| / |A| — the "document A is
    * (mostly) quoted inside document B" detector that symmetric Jaccard
    * misses (a short doc fully contained in a long one has low Jaccard
    * but containment 1.0). Emits both directions' scores per unordered
    * pair; same windowed blocking as [[jaccardPairsWindowed]] (the
    * exact-verification variant — at scale use [[containmentNearDups]],
    * the prefix-filtered join with identical semantics and full recall). */
  def containmentPairsWindowed(df: DataFrame, idCol: String,
                               textCol: String, window: Int,
                               threshold: Double): DataFrame = {
    val sets = df.select(col(idCol), wordSet(col(textCol)).as("__set"))
    val a = sets.toDF("id_a", "__set_a")
      .withColumn("__blk", explode(array(floor(col("id_a") / window),
        floor(col("id_a") / window) + 1)))
    val b = sets.toDF("id_b", "__set_b")
      .withColumn("__blk", floor(col("id_b") / window))
    val inter = size(array_intersect(col("__set_a"), col("__set_b")))
      .cast("double")
    a.join(b, Seq("__blk"))
      .filter(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + window)
      .withColumn("c_ab", round(inter / size(col("__set_a")), 3))
      .withColumn("c_ba", round(inter / size(col("__set_b")), 3))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")
  }

  /** Containment pairs AT SCALE: prefix-filtered token join, the
    * production sibling of [[containmentPairsWindowed]] with the same
    * output (id_a, id_b, c_ab, c_ba) over the WHOLE corpus — no id
    * window, FULL recall.
    *
    * Why not MinHash banding: max-containment |A∩B|/min(|A|,|B|) is
    * only lower-bounded by Jaccard, so banding tuned for J >= t misses
    * exactly the pairs this operator exists for (a short doc quoted
    * inside a long one has containment 1.0 and Jaccard ~|A|/|B|).
    * Prefix filtering (the AllPairs/PPJoin family; distributed form as
    * in Vernica et al., SIGMOD'10) is EXACT for overlap predicates: if
    * |S∩B| >= ceil(t·|S|) for the smaller set S, then B shares at least
    * one of S's first |S| − ceil(t·|S|) + 1 tokens under ANY fixed
    * global token order — so emitting only that prefix for each doc as
    * probe keys loses nothing.
    *
    * Shuffle shape: one df-aggregation over the token stream (map-side
    * combined), one per-doc window to rank tokens rarest-first (the
    * order that makes prefix buckets small — a doc's prefix tokens are
    * its rarest), one equi-join of the prefix stream against the full
    * token index, then distinct canonical pairs + verification joins.
    * Candidate count scales with sum over prefix tokens of their df —
    * bounded by rarity-first ordering, skew split by AQE. Nothing is
    * quadratic in corpus size; the windowed variant remains only as the
    * oracle-verification shape.
    */
  /** Digest-level verified containment pairs — the shared core of the
    * production containment family. `uniq` = one row per unique
    * word-set (`__dig`, `__ws`). Returns (`__dig_a`, `__dig_b`,
    * `c_ab`, `c_ba`) for every unordered digest pair whose larger
    * DIRECTIONAL containment (rounded to 3 dp) meets `threshold` —
    * c_ab is always a's containment in b (|A∩B|/|A|).
    *
    * AllPairs/PPJoin-family prefix filter: each set's candidate prefix
    * is its |S| − ceil(t′·|S|) + 1 RAREST tokens (document-frequency
    * order — rare-first minimizes candidate fan-out), joined against
    * the full token index, so every pair with containment ≥ t′ in
    * EITHER direction shares at least one prefix-vs-index token — full
    * recall, nothing quadratic in corpus size. t′ carries half-ulp-of-
    * round-3 slack because the kept-set predicate compares the ROUNDED
    * containment (a pair at c = t − 0.0004 rounds up into the kept set
    * and must be recalled). */
  private def containmentVerifiedDigests(uniq: DataFrame,
                                         threshold: Double): DataFrame = {
    val toks = uniq.select(col("__dig"), size(col("__ws")).as("__sz"),
      explode(col("__ws")).as("__w"))
    val dfreq = toks.groupBy("__w").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__dig").orderBy(col("__df"), col("__w"))
    val ranked = toks.join(dfreq, Seq("__w"))
      .withColumn("__pos", row_number().over(w))
    val tSlack = threshold - 5e-4
    val prefixes = ranked
      .filter(col("__pos") <= col("__sz") - ceil(lit(tSlack) * col("__sz"))
        + lit(1))
      .select(col("__dig").as("__dig_p"), col("__w"))
    val index = toks.select(col("__dig").as("__dig_i"), col("__w"))
    val cand = prefixes.join(index, Seq("__w"))
      .filter(col("__dig_p") =!= col("__dig_i"))
      .select(least(col("__dig_p"), col("__dig_i")).as("__dig_a"),
        greatest(col("__dig_p"), col("__dig_i")).as("__dig_b"))
      .distinct()
    val inter = size(array_intersect(col("__set_a"), col("__set_b")))
      .cast("double")
    cand
      .join(uniq.select(col("__dig").as("__dig_a"), col("__ws").as("__set_a")),
        Seq("__dig_a"))
      .join(uniq.select(col("__dig").as("__dig_b"), col("__ws").as("__set_b")),
        Seq("__dig_b"))
      .withColumn("c_ab", round(inter / size(col("__set_a")), 3))
      .withColumn("c_ba", round(inter / size(col("__set_b")), 3))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("__dig_a", "__dig_b", "c_ab", "c_ba")
  }

  def containmentNearDups(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // digest collapse (as in [[minhashNearDups]]): the prefix join and
    // verification run once per UNIQUE word-set; duplicate-heavy corpora
    // pay candidate cost per template, not per copy
    val members = df.select(col(idCol), wordSetKey(col(textCol)).as("__dig"))
    val uniq = df.select(wordSetKey(col(textCol)).as("__dig"),
        wordSet(col(textCol)).as("__ws"))
      .dropDuplicates("__dig")
    val verified = containmentVerifiedDigests(uniq, threshold)
    // expand digest pairs to id pairs; the directional scores follow the
    // id order (c_ab is always the smaller-ID side's containment)
    val cross = verified
      .join(members.toDF("__x", "__dig_a"), Seq("__dig_a"))
      .join(members.toDF("__y", "__dig_b"), Seq("__dig_b"))
      .select(least(col("__x"), col("__y")).as("id_a"),
        greatest(col("__x"), col("__y")).as("id_b"),
        when(col("__x") <= col("__y"), col("c_ab")).otherwise(col("c_ba"))
          .as("c_ab"),
        when(col("__x") <= col("__y"), col("c_ba")).otherwise(col("c_ab"))
          .as("c_ba"))
    // identical sets: containment 1.0 both ways, always >= threshold
    val within = members.toDF("id_a", "__dig")
      .join(members.toDF("id_b", "__dig2"),
        col("__dig") === col("__dig2") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        lit(1.0).as("c_ab"), lit(1.0).as("c_ba"))
    cross.unionByName(within)
  }

  /** Incremental batch-vs-index NEAR-dup decision (md5 replayable
    * family) — the near-dup sibling of [[incrementalExact]]: one row
    * per batch document with
    *
    *  - `dup_of_index`: the smallest index id whose word-set Jaccard
    *    with the batch doc meets `threshold` (exact duplicates,
    *    including the null-text sentinel group, count at 1.0); null
    *    when the index holds no near-dup;
    *  - `best_jaccard`: the highest verifying similarity (3 dp);
    *  - `keep`: no verifying index doc — the admission decision an
    *    incrementally-grown corpus applies to every new shard.
    *
    * Candidates come from an LSH band-bucket join between the batch's
    * and the index's signatures — recall is the standard (1−t^r)^b LSH
    * curve, NOT exhaustive; a production store would persist the
    * index's banded form once and join each day's batch against it,
    * which is exactly the shape here (the index side is
    * digest-collapsed and bucket-keyed; nothing rescans old batches).
    * Verification fuses into the join condition
    * (size-ratio bound → first-colliding-band dedup → exact merge
    * Jaccard), as in [[minhashNearDupsMd5]]. Batch docs expand from
    * digests AFTER the decision, so exact-duplicate-heavy batches pay
    * candidate cost per unique template. */
  def incrementalNearDupMd5(batch: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double, numHashes: Int = 64,
                            bands: Int = 8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val rows = numHashes / bands
    val dig = coalesce(wordSetKey(col(textCol)), lit(""))
    val bMembers = batch.select(col(idCol), dig.as("__dig"))
    val iDigMin = index.select(col(idCol), dig.as("__dig"))
      .groupBy("__dig").agg(min(idCol).as("__exact_min"))

    // banded reps per side (non-null sets only: the sentinel group is
    // decided by the exact digest join below, where "jaccard of two
    // empty sets" has no meaningful LSH answer)
    def bandedReps(df: DataFrame): DataFrame = {
      val uniq = df
        .select(dig.as("__dig"), wordSet(col(textCol)).as("__set"))
        .filter(col("__set").isNotNull)
        .dropDuplicates("__dig")
      uniq.join(md5SigTable(uniq, "__set", numHashes), Seq("__dig"))
        .withColumn("__hset",
          array_sort(transform(col("__set"), w => xxhash64(w))))
        .withColumn("__bands", md5BandHashes(col("__sig"), bands, rows))
        .select(col("__dig"), col("__hset"), col("__bands"),
          posexplode(col("__bands")).as(Seq("band", "bucket")))
    }
    val b = bandedReps(batch)
      .toDF("__dig_b", "__hset_b", "__bands_b", "band", "bucket")
    val ix = bandedReps(index)
      .toDF("__dig_i", "__hset_i", "__bands_i", "band_i", "bucket_i")
    val jac = graft.functions.SortedJaccard(col("__hset_b"), col("__hset_i"))
    // cheap-to-expensive join condition, as in bandedVerifyExpand:
    // bucket equality → size-ratio bound → exactly-once via the first
    // colliding band → fused merge Jaccard
    val verified = b.join(ix,
        col("band") === col("band_i") && col("bucket") === col("bucket_i")
          && least(size(col("__hset_b")), size(col("__hset_i"))).cast("double")
            >= lit(threshold) * greatest(size(col("__hset_b")),
              size(col("__hset_i")))
          && graft.functions.FirstEqualIndex(col("__bands_b"),
            col("__bands_i")) === col("band")
          && jac >= threshold)
      .select(col("__dig_b"), col("__dig_i"), round(jac, 3).as("__j"))
    val nearByDig = verified
      .join(iDigMin.toDF("__dig_i", "__imin"), Seq("__dig_i"))
      .groupBy("__dig_b")
      .agg(min("__imin").as("__near_min"), max("__j").as("__near_j"))

    bMembers
      .join(iDigMin, Seq("__dig"), "left")
      .join(nearByDig.toDF("__dig", "__near_min", "__near_j"),
        Seq("__dig"), "left")
      .select(col(idCol),
        least(col("__exact_min"), col("__near_min")).as("dup_of_index"),
        greatest(col("__near_j"),
          when(col("__exact_min").isNotNull, lit(1.0))).as("best_jaccard"),
        least(col("__exact_min"), col("__near_min")).isNull.as("keep"))
  }

  /** Single-pass containment dedup DECISION — the O(n)-output
    * [[minhashRepresentatives]] analogue of [[containmentNearDups]]:
    * document i is dropped iff some document with a smaller id contains
    * ≥ `threshold` of i's word-set (exact-duplicate groups keep their
    * min id; rounded-to-3-dp containment, matching the pair operator).
    * Returns (`idCol`, rep_id, is_kept) with rep_id = the smallest such
    * container (self when kept).
    *
    * Like the MinHash keep decision it is one-pass, not
    * greedy-sequential: the container that drops a document need not
    * itself be kept (a chain a⊇b⊇c may drop both b and c where the
    * sequential greedy would re-keep c) — the standard trade for a
    * decision computable in a bounded number of shuffles at corpus
    * scale. Cost: the digest-collapsed prefix join of the pair
    * operator, then two key-grouped aggregations — candidate work per
    * unique TEMPLATE, membership expansion per document; nothing
    * quadratic in corpus size, and exact replication of the corpus
    * leaves the candidate join's input invariant (rehearsed at 10x
    * replication: the decision went 0.8 s -> 1.5 s). */
  def containmentRepresentatives(df: DataFrame, idCol: String,
                                 textCol: String,
                                 threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // null-text sentinel digest, as in [[minhashRepresentatives]]: the
    // equi-joins below would otherwise drop null-text docs entirely
    val dig = coalesce(wordSetKey(col(textCol)), lit(""))
    val members = df.select(col(idCol), dig.as("__dig"))
    val digMin = members.groupBy("__dig").agg(min(idCol).as("__dmin"))
    val uniq = df.select(dig.as("__dig"), wordSet(col(textCol)).as("__ws"))
      .dropDuplicates("__dig")
    val verified = containmentVerifiedDigests(uniq, threshold)
    // directional containment edges: child digest -> containing digest
    // (c_ab is a's containment in b, so c_ab >= t makes b a's parent)
    val edges = verified.filter(col("c_ab") >= threshold)
      .select(col("__dig_a").as("__dig"), col("__dig_b").as("__par"))
      .unionAll(verified.filter(col("c_ba") >= threshold)
        .select(col("__dig_b").as("__dig"), col("__dig_a").as("__par")))
    // smallest id holding any containing digest; a parent with only
    // LARGER ids than the child's own min cannot drop it (least below)
    val parentMin = edges
      .join(digMin.toDF("__par", "__pmin"), Seq("__par"))
      .groupBy("__dig").agg(min("__pmin").as("__par_min"))
    val repDig = digMin.join(parentMin, Seq("__dig"), "left")
      .select(col("__dig"),
        least(col("__dmin"), coalesce(col("__par_min"), col("__dmin")))
          .as("rep_id"))
    members.join(repDig, Seq("__dig"))
      .select(col(idCol), col("rep_id"),
        (col(idCol) === col("rep_id")).as("is_kept"))
  }

  /** Paragraph-level exact dedup with document reassembly — the Dolma
    * recipe: boilerplate (nav bars, license blocks, repeated intros)
    * recurs across millions of pages that are NOT document-level dups,
    * so dedup runs at paragraph granularity and the documents are
    * stitched back together from their surviving paragraphs.
    *
    * Units here are non-overlapping `window`-token chunks
    * ([[graft.textanalysis.TextAnalysis.tokenChunks]] with
    * stride = window; swap in a real paragraph splitter when the corpus
    * has one). Keep-first: a chunk's canonical home is the globally
    * smallest (doc, idx) — computed as `min(doc·2^20 + idx)` per
    * distinct chunk (one map-side-combined aggregate; the arithmetic
    * key replays in any engine, unlike a struct min) — and every other
    * occurrence drops, including repeats within one document.
    *
    * Shuffle budget: one aggregate + one join on the chunk text (same
    * key, so AQE reuses the partitioning) and one aggregate on the doc
    * id for reassembly. Never all-pairs, no windows over the corpus.
    * `idCol` must be a non-negative integral id below 2^43; chunk index
    * must fit 20 bits (1M chunks/doc — far beyond any real document).
    * Both preconditions are ENFORCED at runtime (a per-row assert in
    * the chunk scan) because `graft_paragraph_dedup` exposes this to
    * arbitrary SQL tables and a silent long overflow would corrupt the
    * keep-first ordering rather than fail.
    *
    * Output: (idCol, n_chunks, n_kept, n_dropped, kept_text) for every
    * non-blank input doc; a fully-deduped doc keeps an empty string. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     window: Int): DataFrame = {
    val chunks = graft.textanalysis.TextAnalysis
      .tokenChunks(docs, idCol, textCol, chunkSize = window,
        stride = window)
      .select(col(idCol), col("chunk_idx").cast("long").as("__cidx"),
        col("chunk_text").as("__chunk"))
      // runtime guard on the packing preconditions (id in [0, 2^43),
      // chunk_idx < 2^20): with ANSI off, long overflow in the packed
      // key is SILENT and keep-first would pick a wrong canonical
      // occurrence — corrupted output, not an error. assert_true
      // evaluates null when the condition holds (the filter keeps every
      // row) and raises with the offending values otherwise; living in
      // a Filter keeps it from being pruned as an unused projection.
      .where(assert_true(
        col(idCol).cast("long").between(0L, (1L << 43) - 1) &&
          col("__cidx") < (1L << 20),
        concat(lit(s"paragraphDedup: $idCol/chunk_idx outside packable " +
          "range [0,2^43)/[0,2^20): "), col(idCol).cast("string"),
          lit("/"), col("__cidx").cast("string"))).isNull)
      .withColumn("__key",
        col(idCol).cast("long") * lit(1L << 20) + col("__cidx"))
    val canon = chunks.groupBy("__chunk")
      .agg(min("__key").as("__first"))
    val kept = chunks.join(canon, Seq("__chunk"))
      .where(col("__key") === col("__first"))
    val reassembled = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__cidx").as("i"),
            col("__chunk").as("c")))), x => x.getField("c")), " ")
          .as("kept_text"))
    chunks.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }
}
