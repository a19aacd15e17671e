package graft.textanalysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Md5Prefix

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, n-gram-heuristic language ID. All single-pass column
  * expressions — no UDFs, no shuffles; they vectorize inside whole-stage
  * codegen and scale linearly with the scan.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count; empty/blank input counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** BPE-ish subword-boundary token count: GPT-2-style pre-tokenizer
    * pattern (contraction suffixes, space-prefixed letter runs, digit
    * runs, punctuation runs). A real tokenizer's merge step happens on
    * top of this split; the count is the standard corpus-size estimate.
    */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Share of tokens that are stopwords (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(
      size(filter(tokens(text), t => t.isin(stopwords: _*))).cast("double") / n)
  }

  /** Share of punctuation characters in the raw text. */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, lit(0.0)).otherwise(
      (len - length(regexp_replace(text, "[.,;:!?'\"()-]", ""))).cast("double") / len)
  }

  /** Mean token length (characters, whitespace excluded). */
  def avgWordLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "\\s+", "")).cast("double") / n)
  }

  val DefaultStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** Composite quality score in [0,1]:
    * 0.3*min(tokens/50,1) + 0.3*stopword_ratio + 0.2*(1-punct_ratio)
    * + 0.2*min(avg_word_len/8,1) — weights mirror the usual
    * length/stopword/punctuation heuristics for web-scale corpus filtering.
    */
  def qualityScore(text: Column,
                   stopwords: Seq[String] = DefaultStopwords): Column = {
    val raw =
      least(tokenCount(text).cast("double") / 50.0, lit(1.0)) * 0.3 +
        stopwordRatio(text, stopwords) * 0.3 +
        (lit(1.0) - punctRatio(text)) * 0.2 +
        least(avgWordLen(text) / 8.0, lit(1.0)) * 0.2
    // arithmetic 3-decimal rounding: round() on doubles goes through the
    // shortest decimal repr and disagrees across engines at .xxx5
    // boundaries; floor(x*1000+0.5)/1000 is pure double math every engine
    // computes identically
    floor(raw * 1000.0 + 0.5) / 1000.0
  }

  /** Word n-grams: each window of `n` consecutive whitespace tokens,
    * space-joined. Null text yields null (explode skips it); blank or
    * shorter-than-n text yields an empty array. The `size < n` guard
    * matters: Spark's `sequence(1, 0)` DESCENDS to [1, 0] instead of
    * returning empty. Pure expression, no shuffle.
    *
    * The token array is BOUND to a lambda variable via a one-element
    * `transform` before the gram windows are built: expression trees
    * have no let-binding, so referencing the `split` subtree directly
    * inside the window lambda re-tokenizes the text once per gram
    * element (measured 4x slower on the documents corpus — the split is
    * the dominant cost, not the windowing).
    */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    val gramsOf = (t: Column) =>
      // tokens("") is [""], not []: the element_at check catches blank text
      when(size(t) < n || (size(t) === 1 && element_at(t, 1) === ""),
        array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(t, i + lit(j))): _*)))
    flatten(transform(array(tokens(text)), gramsOf))
  }

  /** Per-document exact-substring duplication report (the Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * span-level signal, at word granularity): for every document, how
    * many of its `n`-word spans occur ANYWHERE else in the corpus
    * (other documents or repeated within this one), and what fraction
    * of its span positions that is — the evidence a span-removal or
    * doc-drop policy consumes. Span-level catches the boilerplate and
    * quoted-block duplication that whole-document digests miss.
    *
    * Scale shape: one explode of the corpus span stream keyed on a
    * 60-bit md5 span fingerprint (8 shuffled bytes per span instead of
    * the ~50-byte span string; at 100 TB swap in xxhash64 — 4x cheaper
    * per call, same plan), one partial-aggregating groupBy for corpus
    * span counts (map-side combine collapses boilerplate spans to one
    * partial per task — the hot-key regime IS the interesting one), a
    * join back on the same key partitioning, and a per-doc groupBy. No
    * window, no pair materialization: cost is linear in corpus tokens.
    * The md5 key replays in any engine, which is what the gate checks.
    *
    * Documents with fewer than `n` words have no spans and are absent
    * from the report (deterministic; mirror the filter in any oracle).
    */
  def duplicatedSpans(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int,
                      minOccurrences: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 2, "span length must be >= 2 words")
    require(minOccurrences >= 2, "a span needs >= 2 occurrences to be a dup")
    // pin the slim (id, fingerprint) span stream once (round 19, guide
    // §2.4): the corpus count aggregate and the join-back hash the same
    // key but their exchange children differ (partial agg vs project),
    // so exchange reuse cannot span them — unpinned, each re-runs the
    // tokenize+explode+digest pass
    val spans = graft.operators.Checkpoints.pin(df
      .select(col(idCol), explode(ngrams(col(textCol), n)).as("__span"))
      .select(col(idCol),
        Md5Prefix(col("__span"), 15)
          .as("__k")))
    val counts = spans.groupBy("__k").agg(count(lit(1)).as("__n"))
    spans.join(counts, Seq("__k"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__n") >= minOccurrences, 1).otherwise(0)).as("n_dup"))
      .withColumn("dup_fraction",
        round(col("n_dup").cast("double") / col("n_spans"), 3))
  }

  /** Corpus-level duplicated-span REMOVAL (the surgical sibling of the
    * [[duplicatedSpans]] report; the Lee et al. ExactSubstr policy at
    * word-n-gram granularity): every occurrence of a cross-corpus
    * duplicated n-gram span is cut from its document EXCEPT the
    * canonical first occurrence (lexicographic min (doc, position) —
    * content survives exactly once corpus-wide). A token is removed iff
    * some non-canonical duplicated span covers it; the document
    * reassembles from its surviving tokens in order.
    *
    * Shape at scale, all linear in corpus tokens: explode spans → one
    * map-side-combined count per fingerprint carrying the struct-min
    * canonical occurrence (an aggregate, never a window) → join back →
    * explode covered indices → anti-join the token stream → per-doc
    * ordered reassembly (array_sort over each doc's own tokens). No
    * global sort, no per-key state beyond one doc's token list — the
    * same bound as any per-doc text op. */
  def stripDuplicatedSpans(df: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String,
                           n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 2, "span length must be >= 2 words")
    // pin the tokenized corpus (three readers: the span stream, the
    // token stream, and the final length frame) and the slim span
    // stream (two readers: counts + the dup-occurrence join; their
    // exchange children differ, so reuse cannot span them) — round 19,
    // guide §2.4
    val toks = graft.operators.Checkpoints.pin(nonBlank(df, textCol)
      .select(col(idCol), tokens(col(textCol)).as("__t")))
    val spans = graft.operators.Checkpoints.pin(toks
      .select(col(idCol), col("__t"),
        explode(when(size(col("__t")) >= n,
          sequence(lit(1), size(col("__t")) - (n - 1)))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col(idCol), col("__i"),
        Md5Prefix(concat_ws(" ",
          slice(col("__t"), col("__i"), lit(n))), 15).as("__k")))
    val counts = spans.groupBy("__k")
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol).as("__fid"), col("__i").as("__fi")))
          .as("__f"))
    val dupOcc = spans.join(counts, Seq("__k"))
      .where(col("__n") >= 2 &&
        !(col(idCol) === col("__f.__fid") && col("__i") === col("__f.__fi")))
    val covered = dupOcc
      .select(col(idCol),
        explode(sequence(col("__i"), col("__i") + (n - 1))).as("__idx"))
      .distinct()
    val tokenStream = toks
      .select(col(idCol), posexplode(col("__t")))
      .select(col(idCol), (col("pos") + 1).as("__idx"), col("col").as("__tk"))
    val keptAgg = tokenStream
      .join(covered, Seq(idCol, "__idx"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__idx"), col("__tk")))),
          s => s.getField("__tk"))).as("__clean"))
    toks.select(col(idCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(keptAgg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** CHARACTER-level ExactSubstr deduplication (Lee et al. 2021,
    * arXiv:2107.06499 §4.1 — their suffix-array pass, re-expressed for
    * a distributed engine): any substring of length ≥ `minLen` that
    * occurs more than once corpus-wide is removed from every document
    * EXCEPT the canonical first occurrence (lexicographic min
    * (doc, position)). The character-gram reduction is exact for a
    * fixed threshold: a duplicated span of length ≥ L exists iff some
    * duplicated L-gram exists, and the union of a span's covered
    * L-gram windows IS the span — so marking every non-canonical
    * duplicated L-gram occurrence and cutting the merged cover removes
    * exactly the paper's spans, with no suffix array and no global
    * structure.
    *
    * Shape at scale, all linear in corpus characters: one explode of
    * char positions keyed on a 60-bit md5 gram fingerprint (8 shuffled
    * bytes per gram, not the 50-char gram; widen to the full digest —
    * or xxhash64 for 4x cheaper hashing — at the 100 TB gram count),
    * one map-side-combined count per fingerprint carrying the
    * struct-min canonical occurrence (an aggregate, never a window), a
    * join back on the same key partitioning, then ONE per-doc
    * collect_list of mark positions (bounded by the doc's own length —
    * the same bound as any per-doc text op) whose interval merge and
    * text re-stitch are pure higher-order column expressions. No
    * window over data, no pair materialization, no global sort.
    *
    * Output: (id, n_chars, n_removed, clean_text) for every
    * non-null-text document. */
  def exactSubstrDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, minLen: Int = 50)
      : org.apache.spark.sql.DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 chars, got $minLen")
    val base = substrBase(df, idCol, textCol)
    val grams = base
      .select(col(idCol), col("__txt"),
        explode(when(col("__len") >= minLen,
          sequence(lit(1), col("__len") - (minLen - 1)))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col(idCol), col("__i"), gramKey(minLen))
    cutMarkedGrams(base, grams, idCol, minLen)
  }

  /** Spread the corpus BEFORE a gram chain: a compact parquet scan
    * arrives in one or two splits, which would run the CPU-bound
    * explode+hash gram work serially on one core of a 32-core executor
    * (and on ONE executor of a 1000-node cluster) — the multimodal
    * spreadIds lesson; the shuffle moves only the raw docs, orders of
    * magnitude less than the gram stream it unlocks. ADAPTIVE
    * (round 18): the spread is a full corpus shuffle, so it only runs
    * when the scan actually arrives narrower than the cluster — at the
    * 100 TB target the scan is already thousands of splits and this
    * shuffle would be the chain's single biggest cost (a scale
    * rehearsal measured it at ~60% of the minimized chain's remaining
    * bytes). */
  private def substrBase(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String): org.apache.spark.sql.DataFrame = {
    val slim = df.where(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__txt"),
        length(col(textCol)).as("__len"))
    // pinned CONDITIONALLY (round 20): base feeds the gram/minimizer
    // stream AND the candidate join AND the final re-stitch — three
    // readers that each re-ran the scan (and the pre-spread shuffle,
    // when it fires) unpinned. But the round-19 unconditional pin was
    // the family's clearest net loss at small corpora (the driver's
    // dedup_exact_substr_min 0.87x): re-scanning a small corpus three
    // times is cheaper than one eager pin job. pinIfLarge keeps the
    // pin exactly when the corpus bytes say the three re-scans are the
    // bigger number — the same cleaned-corpus-pin trade the curation
    // pipelines make, now input-adaptive.
    graft.operators.Checkpoints.pinIfLarge(
      if (graft.operators.ScanWidth.arrivesWide(slim)) slim
      else slim.repartition(
        df.sparkSession.sparkContext.defaultParallelism, col(idCol)))
  }

  /** 60-bit md5 fingerprint of the L-gram starting at char `__i` of
    * `__txt` — the one gram key both the full and the minimized chain
    * (and the DuckDB oracle) derive. */
  private def gramKey(minLen: Int): Column =
    Md5Prefix(col("__txt").substr(col("__i"), lit(minLen)), 15).as("__k")

  /** Shared tail of the ExactSubstr chain: count gram keys, mark every
    * non-canonical occurrence of a duplicated key, merge each doc's
    * mark cover, cut and re-stitch. `grams` must contain EVERY
    * occurrence of every corpus-duplicated L-gram (the full explode
    * trivially does; the minimized path proves it via the winnowing
    * guarantee) — keys occurring once may be present or absent, they
    * mark nothing either way. */
  private def cutMarkedGrams(base: org.apache.spark.sql.DataFrame,
                             grams: org.apache.spark.sql.DataFrame,
                             idCol: String, minLen: Int)
      : org.apache.spark.sql.DataFrame = {
    // Canonical-first-occurrence = lexicographic min over (id, __i).
    // A struct-typed min buffer is not UnsafeRow-mutable, so Catalyst
    // plans min(struct(id, i)) as SortAggregate — which SORTS the
    // ENTIRE gram stream twice (partial pass, then again after the
    // exchange), the chain's dominant CPU at 1M rehearsal docs. For
    // integral ids the pair packs order-preservingly into one
    // decimal(38,0) — packed = id * 2^32 + i, exact since |id| <= 2^63
    // and i in [1, 2^31) never crosses an id boundary — and a decimal
    // min buffer IS mutable, so the count+min lands in a hash
    // aggregate with map-side combine and zero sorts. Non-integral ids
    // keep the struct-min plan.
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    val idIsIntegral = grams.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // Null-id grams neither count nor mark (round-19): the packed
    // decimal min silently skips null ids while the struct min ranks
    // struct(null, i) nulls-first, so without this filter the two
    // canonical paths could pick DIFFERENT first occurrences on
    // null-id data. Pinned semantics (Round19Spec): dedup ignores
    // null-id docs entirely — they contribute no counts, are never
    // marked, and pass through uncut (the null-keyed join-back below
    // has no equi-match).
    // pin the gram stream once (round 19, guide §2.4): the count
    // aggregate and the mark join-back cannot share an exchange
    // (different exchange children), so unpinned each re-runs the
    // gram explode + md5 digest pass — the chain's dominant CPU. The
    // pinned frame is the slim (id, pos, fp) stream; above the
    // ~100k-doc crossover the auto chooser routes to the minimized
    // chain, whose winnowed stream keeps this pin 1/(w+1)-sized.
    val g = graft.operators.Checkpoints.pin(
      grams.where(col(idCol).isNotNull))
    val marked =
      if (idIsIntegral) {
        val packed = col(idCol).cast(DecimalType(38, 0)) *
          lit(4294967296L) + col("__i")
        val counts = g.groupBy("__k")
          .agg(count(lit(1)).as("__n"), min(packed).as("__fmin"))
        g.join(counts, Seq("__k"))
          .where(col("__n") >= 2 && packed =!= col("__fmin"))
      } else {
        val counts = g.groupBy("__k")
          .agg(count(lit(1)).as("__n"),
            min(struct(col(idCol).as("__fid"), col("__i").as("__fi")))
              .as("__f"))
        g.join(counts, Seq("__k"))
          .where(col("__n") >= 2 &&
            !(col(idCol) === col("__f.__fid") &&
              col("__i") === col("__f.__fi")))
      }
    val marks = marked
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("__i"))).as("__ss"))
    val withIv = base.join(marks, Seq(idCol), "left")
      .withColumn("__iv",
        aggregate(coalesce(col("__ss"), array().cast("array<int>")),
          array().cast("array<struct<s:int,e:int>>"),
          (acc, x) =>
            when(size(acc) > 0 &&
              x <= element_at(acc, -1).getField("e") + 1,
              concat(slice(acc, lit(1), size(acc) - 1),
                array(struct(element_at(acc, -1).getField("s").as("s"),
                  (x + (minLen - 1)).as("e")))))
              .otherwise(concat(acc,
                array(struct(x.as("s"), (x + (minLen - 1)).as("e")))))))
    withIv.select(col(idCol),
      col("__len").cast("long").as("n_chars"),
      aggregate(col("__iv"), lit(0),
        (a, v) => a + v.getField("e") - v.getField("s") + 1)
        .cast("long").as("n_removed"),
      aggregate(col("__iv"),
        struct(lit(1).as("cur"), lit("").as("acc")),
        (st, v) => struct(
          (v.getField("e") + 1).as("cur"),
          concat(st.getField("acc"), col("__txt").substr(
            st.getField("cur"), v.getField("s") - st.getField("cur")))
            .as("acc")),
        st => concat(st.getField("acc"), col("__txt").substr(
          st.getField("cur"), col("__len") - st.getField("cur") + 1)))
        .as("clean_text"))
  }

  /** [[exactSubstrDedup]] with WINNOWED gram selection — byte-identical
    * output, a ~w/2× smaller gram stream (round-17 verdict item 2).
    *
    * The full chain shuffles one row per character position TWICE (the
    * key count and the join-back) — linear and partitionable, but
    * ~20-30× the text bytes each way, which at the 100 TB target is
    * the difference between a 2 PB and a 100 TB shuffle. This variant
    * first selects winnowing minimizers over k-grams with window
    * w = minLen - k + 1 ([[graft.functions.WinnowMinimizers]], one
    * O(n) codegen'd pass per doc, selection density ~2/(w+1)), counts
    * THOSE fingerprints, and only then emits full L-gram keys at the
    * candidate positions [p - (L-k), p] around each REPEATED minimizer
    * p. Exactness: two equal L-grams are two equal length-(w+k-1)
    * substrings, so by the winnowing guarantee both copies select the
    * same fingerprint value inside the match — every occurrence of
    * every duplicated L-gram therefore lands in the candidate cover,
    * the reduced chain sees the same duplicated keys with the same
    * counts and the same canonical minima, and marks the same cuts
    * (fingerprint collisions only ever ADD candidates). The two
    * gram-sized shuffles shrink to minimizer density + actual
    * duplication mass; worst case (a fully duplicated corpus) degrades
    * to the full chain's size, never past it. */
  def exactSubstrDedupMinimized(df: org.apache.spark.sql.DataFrame,
                                idCol: String, textCol: String,
                                minLen: Int = 50, k: Int = 8)
      : org.apache.spark.sql.DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 chars, got $minLen")
    require(k >= 1 && k < minLen, s"need 1 <= k < minLen, got k=$k")
    val w = minLen - k + 1
    val base = substrBase(df, idCol, textCol)
    // pinned once (round 19, guide §2.4): the repeated-fingerprint
    // aggregate and the candidate join both consume the minimizer
    // stream and cannot share an exchange — unpinned, each re-runs
    // the O(n) winnowing selection over the corpus text
    val mins = graft.operators.Checkpoints.pin(base
      .select(col(idCol), col("__len"),
        explode(graft.functions.WinnowMinimizers(col("__txt"), k, w))
          .as("__mm"))
      .select(col(idCol), col("__len"),
        col("__mm.pos").as("__p"), col("__mm.fp").as("__fp")))
    // fingerprints selected >= 2 times corpus-wide (map-side combined;
    // two selections of one value — across docs or within one — are
    // exactly the two-occurrence evidence the theorem provides)
    val rep = mins.groupBy("__fp").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2).select("__fp")
    // per doc: candidate L-gram START intervals around each repeated
    // minimizer, clipped to valid starts, merged — the same bounded
    // per-doc interval algebra as the cut cover itself
    val cand = mins.join(rep, Seq("__fp"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
        greatest(lit(1), col("__p") - (minLen - k)).as("s"),
        least(col("__p"), col("__len") - (minLen - 1)).as("e"))))
        .as("__cs"))
      .select(col(idCol),
        aggregate(col("__cs"),
          array().cast("array<struct<s:int,e:int>>"),
          (acc, x) =>
            when(size(acc) > 0 &&
              x.getField("s") <= element_at(acc, -1).getField("e") + 1,
              concat(slice(acc, lit(1), size(acc) - 1),
                array(struct(element_at(acc, -1).getField("s").as("s"),
                  greatest(element_at(acc, -1).getField("e"),
                    x.getField("e")).as("e")))))
              .otherwise(concat(acc, array(struct(
                x.getField("s").as("s"), x.getField("e").as("e"))))))
          .as("__civ"))
    val grams = base.join(cand, Seq(idCol))
      .select(col(idCol), col("__txt"),
        explode(flatten(transform(col("__civ"),
          v => sequence(v.getField("s"), v.getField("e"))))).as("__i"))
      .select(col(idCol), col("__i"), gramKey(minLen))
    cutMarkedGrams(base, grams, idCol, minLen)
  }

  /** Corpus byte threshold above which [[exactSubstrDedupAuto]] picks
    * the minimized chain. A 10k-1M-doc rehearsal ladder measured the
    * crossover at ~100k ~1 kB docs (~100 MB of raw text): below it the
    * minimizer pass plus candidate join cost more than the gram-shuffle
    * bytes they save; above it the cut compounds (2.9-5.6x at the 1M-doc
    * leg). 100 MB of synthetic-ish text lands near 32 MB of
    * parquet-compressed leaf bytes — the statistic the free probe
    * reads — so that is the default pivot. */
  val MinimizedChainAboveBytes: Long = 32L << 20

  /** [[exactSubstrDedup]] with the CHAIN CHOSEN BY CORPUS SIZE — the
    * two variants are output-identical, so the only question is cost:
    * the minimizer machinery (one O(n) selection pass, a fingerprint
    * count, a candidate interval join) is a fixed overhead that pays
    * for itself only once the gram shuffle it shrinks is large enough
    * (r18 verdict: at bench scale the minimized gate priced 3.17 s vs
    * the full chain's 1.81 s, while the 1M-doc rehearsal leg ran
    * 2.9-5.6x FASTER minimized). The corpus-size probe is the free
    * leaf-file-bytes statistic ([[graft.operators.ScanWidth]]); a
    * frame without file leaves (in-memory, checkpointed — no
    * trustworthy byte stat) assumes LARGE, the scale-safe default: a
    * wrong guess there costs the bounded minimizer constant, never a
    * corpus-sized shuffle. */
  def exactSubstrDedupAuto(df: org.apache.spark.sql.DataFrame,
                           idCol: String, textCol: String,
                           minLen: Int = 50, k: Int = 8,
                           minimizedAboveBytes: Long =
                             MinimizedChainAboveBytes)
      : org.apache.spark.sql.DataFrame =
    if (minimizedChainChosen(df, minimizedAboveBytes))
      exactSubstrDedupMinimized(df, idCol, textCol, minLen, k)
    else exactSubstrDedup(df, idCol, textCol, minLen)

  /** The chooser predicate alone — package-visible so the spec pins
    * the decision in all three directions (below / above the byte
    * threshold, and the no-file-statistic scale-safe default) without
    * plan-string inspection, which the round-19 eager pins made
    * opaque (the winnow stage executes at construction, so the final
    * plan bottoms at the pinned scan). */
  private[graft] def minimizedChainChosen(
      df: org.apache.spark.sql.DataFrame,
      minimizedAboveBytes: Long): Boolean =
    graft.operators.ScanWidth.leafFileBytes(df)
      .forall(_ >= minimizedAboveBytes)

  /** Corpus-level n-gram frequency: the k most frequent word n-grams
    * with deterministic (count desc, gram) tie-ordering. One explode +
    * one partial-aggregating groupBy (map-side combine shrinks the
    * shuffle to unique grams per task) + TakeOrderedAndProject — no
    * global sort. The frequency table is the standard corpus-statistics
    * input for contamination checks and boilerplate detection.
    */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
                n: Int, k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(ngrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)

  /** Non-overlapping `w`-token spans as an array<string> (the final span
    * may be short) — the span unit for [[dropBoilerplate]] on corpora
    * without line structure. */
  def tokenSpans(text: Column, w: Int): Column = {
    require(w >= 1, "span width must be >= 1")
    val spansOf = (t: Column) =>
      when(size(t) === 1 && element_at(t, 1) === "",
        array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), ((size(t) - 1) / w).cast("int")),
          i => concat_ws(" ", slice(t, i * w + 1, lit(w)))))
    flatten(transform(array(tokens(text)), spansOf))
  }

  /** Newline units for [[dropBoilerplate]] on real (line-structured)
    * corpora: trimmed non-empty lines. */
  def lineUnits(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)

  /** Corpus-level boilerplate removal (the CCNet/Gopher line-dedup
    * filter): drop every occurrence of a unit (line, or token span via
    * [[tokenSpans]]) that appears more than `maxCount` times across the
    * WHOLE corpus — nav bars, cookie banners, template footers — and
    * reassemble each document from its surviving units in order.
    *
    * Output: (id, clean_text, n_dropped, n_units); a document whose every
    * unit is boilerplate stays, with `clean_text = ""`.
    *
    * Shape: posexplode units → frequency table grouped on the unit's
    * xxhash64 digest (map-side combine shrinks the shuffle to unique
    * digests per task; grouping/joining 8-byte digests instead of full
    * line strings cuts the shuffle width by the mean line length) →
    * filter to `count > maxCount` — by construction the DISTINCT mass of
    * boilerplate is small, so this table broadcasts and the corpus side
    * takes a broadcast left join with NO shuffle (set
    * `broadcastFrequent = false` to let the planner choose when the
    * frequent set is genuinely huge) → one groupBy(id) rebuilds
    * documents. Two corpus-wide shuffles total (frequency partials +
    * document regroup) at any scale.
    */
  def dropBoilerplate(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, maxCount: Long,
                      splitUnits: Column => Column = lineUnits,
                      sep: String = "\n",
                      broadcastFrequent: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(maxCount >= 1, "maxCount must be >= 1")
    val units = nonBlank(df, textCol)
      .select(col(idCol), posexplode(splitUnits(col(textCol))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__unit")
      .withColumn("__h", xxhash64(col("__unit")))
    val freq0 = units.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > maxCount).select(col("__h"), lit(true).as("__freq"))
    val freq = if (broadcastFrequent) broadcast(freq0) else freq0
    units.join(freq, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("__freq").isNull,
            struct(col("__pos"), col("__unit"))))),
          s => s.getField("__unit"))).as("clean_text"),
        sum(when(col("__freq").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        count(lit(1)).as("n_units"))
  }

  /** Corpus-level EXACT unit dedup, keep-first (the RefinedWeb-style
    * exact-substring pass, at unit granularity): every later occurrence
    * of a unit (line, or token span via [[tokenSpans]]) anywhere in the
    * corpus is dropped; the single occurrence with the smallest
    * (id, pos) survives. Complements [[dropBoilerplate]]: that removes
    * ALL copies of units frequent beyond a threshold, this keeps exactly
    * one copy of EVERY repeated unit.
    *
    * Output: (id, dedup_text, n_dropped, n_units); a document whose
    * every unit occurred earlier elsewhere stays, with `dedup_text = ""`.
    *
    * Shape mirrors [[dropBoilerplate]]: posexplode → first-occurrence
    * table grouped on the unit's xxhash64 digest (map-side min of the
    * (id, pos) struct — the shuffle carries one row per UNIQUE unit, 8-byte
    * keys, and a hot unit with millions of copies collapses map-side
    * instead of flooding one reducer) → join back on the digest (AQE
    * skew-splittable) → one groupBy(id) rebuilds documents. Digest
    * collisions (~n²/2⁶⁴) trade exactness for shuffle width, as in
    * [[dropBoilerplate]].
    */
  def dedupUnitsGlobal(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String,
                       splitUnits: Column => Column = lineUnits,
                       sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    val units = nonBlank(df, textCol)
      .select(col(idCol), posexplode(splitUnits(col(textCol))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__unit")
      .withColumn("__h", xxhash64(col("__unit")))
    val first = units
      .groupBy("__h")
      .agg(min(struct(col(idCol).as("__fid"), col("__pos").as("__fpos")))
        .as("__f"))
    units.join(first, Seq("__h"))
      .withColumn("__keep",
        col(idCol) === col("__f.__fid") && col("__pos") === col("__f.__fpos"))
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__unit"))))),
          s => s.getField("__unit"))).as("dedup_text"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        count(lit(1)).as("n_units"))
  }

  /** Arithmetic 4-decimal rounding stable across engines (same rationale
    * as the 3-decimal variant in [[qualityScore]]). */
  private[textanalysis] def round4(c: Column): Column =
    floor(c * 10000.0 + 0.5) / 10000.0

  /** Non-null, non-blank text rows — the shared domain every corpus-level
    * text operator (and its DuckDB oracle) runs over. */
  private[textanalysis] def nonBlank(df: org.apache.spark.sql.DataFrame,
                                     textCol: String): org.apache.spark.sql.DataFrame =
    df.filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)

  /** Fixed-size token chunks with stride — the context-window splitter of
    * a training pipeline: long documents become overlapping windows of
    * `chunkSize` tokens whose starts step by `stride`. Start positions are
    * `1, 1+stride, …` up to `max(len - (chunkSize - stride), 1)`, which
    * covers every token exactly once past the overlap and never emits a
    * tail chunk fully contained in its predecessor. One row per chunk:
    * (id, chunk_idx, chunk_text, n_tokens); the final chunk may be short.
    *
    * Pure narrow plan — tokenize, sequence, posexplode, slice — no
    * shuffle; chunk output scales the scan linearly and stays inside
    * whole-stage codegen, so the operator is scan-bound at any corpus
    * size.
    */
  def tokenChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, chunkSize: Int,
                  stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    require(stride >= 1 && stride <= chunkSize,
      "stride must be in [1, chunkSize]")
    nonBlank(df, textCol)
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"),
        posexplode(sequence(lit(1),
          greatest(size(col("__t")) - lit(chunkSize - stride), lit(1)),
          lit(stride))).as(Seq("chunk_idx", "__start")))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__t"), col("__start"), lit(chunkSize)), " ")
          .as("chunk_text"),
        size(slice(col("__t"), col("__start"), lit(chunkSize))).as("n_tokens"))
  }

  /** Share of repeated word occurrences: `1 - |distinct|/|tokens|`
    * (0 = no word repeats). Gopher-style within-document repetition
    * signal; pure expression. */
  def dupWordFraction(text: Column): Column = {
    val t = tokens(text)
    round4(lit(1.0) - size(array_distinct(t)).cast("double") / size(t))
  }

  /** Share of all word n-grams taken by the single most frequent one,
    * computed entirely WITHIN the row: sort the gram array, then the
    * most frequent gram's count is the longest run of equal adjacent
    * elements (one `aggregate` pass over the sorted array). The outer
    * one-element `transform` let-binds the sorted array so the
    * tokenize+sort runs once, not once per reference.
    */
  private def topNgramFraction(text: Column, n: Int): Column =
    element_at(transform(array(array_sort(ngrams(text, n))), g => {
      val total = size(g)
      val best = aggregate(
        slice(g, lit(2), greatest(total - lit(1), lit(0))),
        named_struct(lit("run"), lit(1), lit("best"), lit(1),
          lit("prev"), element_at(g, 1)),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1))
          named_struct(lit("run"), run,
            lit("best"), greatest(acc.getField("best"), run),
            lit("prev"), x)
        },
        acc => acc.getField("best"))
      round4(best.cast("double") / total)
    }), 1)

  /** Per-document repetition signals (the Gopher repetition filters):
    * `dup_word_frac` (share of repeated word occurrences) and
    * `top_ngram_frac` (share of all word n-grams taken by the single most
    * frequent one — boilerplate/loop detector). Documents shorter than
    * `n` tokens are out of domain and dropped.
    *
    * Shape: a pure narrow scan — both signals are per-row array
    * computations ([[dupWordFraction]]; [[topNgramFraction]] = longest
    * equal-adjacent run in the SORTED gram array), so the operator never
    * shuffles. The previous explode → two-groupBy form shuffled one row
    * per n-gram — corpus-token-count rows through two exchanges — and
    * was the slowest query in the bench at 9 s / sf0.1; this form is
    * scan-bound (~0.3 s) and stays shuffle-free at any corpus size.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n-gram size must be >= 1")
    nonBlank(df, textCol)
      .filter(size(tokens(col(textCol))) >= n)
      .select(col(idCol), dupWordFraction(col(textCol)).as("dup_word_frac"),
        topNgramFraction(col(textCol), n).as("top_ngram_frac"))
  }

  /** Corpus-trained bigram language-model score per document — the
    * CCNet/Gopher-style "perplexity filter" of a training-data pipeline,
    * with the LM trained on the corpus itself (or any `df` passed as the
    * training slice). Each document scores the average add-α-smoothed
    * transition probability of its adjacent word pairs:
    * `p(w2|w1) = (c(w1 w2) + α) / (c(w1) + α·V)`, counts corpus-wide, V
    * = corpus vocabulary size. Boilerplate and in-domain text score
    * high; lorem-ipsum noise, wrong-language and mangled docs score low.
    *
    * `logSpace = false` (default) scores `avg(p)` — division and
    * addition only, so the number is reproducible bit-for-bit across
    * engines (same rationale as [[tfidfTopTerms]]'s log-free IDF: `ln`
    * differs by ulps between libm implementations and would break
    * cross-engine hash parity after rounding). `logSpace = true` gives
    * the standard `avg(ln p)` log-likelihood — the form to use for real
    * perplexity thresholds, rank-very-close to the arithmetic form.
    *
    * Shape: the two count tables build with map-side partial aggregation
    * (shuffle = unique grams, not corpus tokens); the vocabulary size is
    * a 1-row aggregate cross-joined back (broadcast, no collect). The
    * per-document pair stream then hash-joins the bigram table on the
    * gram and the unigram table on the leading word — two
    * vocabulary-partitioned shuffle joins, NO broadcast hint: at 100 TB
    * both tables are web-vocabulary sized, and AQE demotes to broadcast
    * when a bounded-domain corpus keeps them small. The token array is
    * let-bound once per doc (see [[ngrams]]); pairs emit as one
    * explode of (w1, gram) structs, so the text splits once.
    */
  def lmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, alpha: Double = 0.1,
              logSpace: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(alpha > 0, "smoothing alpha must be > 0")
    val toksed = nonBlank(df, textCol)
      .select(col(idCol), tokens(col(textCol)).as("__t"))
    val pairs = toksed.filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(transform(sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("__w1"),
          concat_ws(" ", element_at(col("__t"), i),
            element_at(col("__t"), i + 1)).as("__g")))).as("__p"))
      .select(col(idCol), col("__p.__w1").as("__w1"), col("__p.__g").as("__g"))
    val uni = toksed.select(explode(col("__t")).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val big = pairs.groupBy("__g").agg(count(lit(1)).as("__cb"))
    val vocab = uni.agg(count(lit(1)).as("__v"))
    val p = (col("__cb") + alpha) / (col("__cu") + lit(alpha) * col("__v"))
    pairs
      .join(big, Seq("__g"))
      .join(uni, Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(round4(avg(if (logSpace) log(p) else p)).as("lm_score"))
  }

  /** Top-k TF-IDF terms per document, `score = tf * (N+1)/(df+1)`.
    * The IDF is the LOG-FREE inverse document frequency: `ln` differs by
    * ulps between libm implementations, which would break cross-engine
    * hash parity after rounding; plain IEEE division and multiplication
    * are correctly rounded everywhere, so this variant is bit-identical
    * in any engine (and rank-equivalent to log-IDF within a fixed df).
    *
    * Shape: explode words → tf groupBy (map-side combined) → document
    * frequency from the tf table (one row per (doc, word), so `count` IS
    * df) → join the df table and the 1-row corpus count back onto tf.
    * With `broadcastVocab = true` (the default, right for bounded
    * vocabularies) the vocabulary-sized df table is broadcast so the
    * corpus-scale side never reshuffles. A web-scale vocabulary
    * (open-domain text at 100 TB) does not fit the broadcast limit or
    * driver memory — pass `broadcastVocab = false` to leave the join
    * strategy to the planner: a shuffle join on `word` when stats say
    * big, and AQE still demotes it to broadcast at runtime when the
    * built side turns out small. Top-k via row_number over per-document
    * windows — partitions are vocabulary-per-document sized, never
    * corpus sized.
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int,
                    broadcastVocab: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    val docs = nonBlank(df, textCol)
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq0 = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dfreq = if (broadcastVocab) broadcast(dfreq0) else dfreq0
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("word"))
    tf.join(dfreq, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round4(col("tf") * ((col("__n") + lit(1.0)) / (col("df") + lit(1.0)))))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(idCol), col("word"), col("score"))
  }

  /** BM25 relevance of every document to a fixed bag of query terms —
    * the classic retrieval score (Robertson/Sparck-Jones; the +1 idf
    * form Lucene uses, which never goes negative):
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1-b+b·|d|/avgdl))
    *   idf(t)   = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
    *
    * Shape: per-document tf for each query term is a size(filter(...))
    * expression over the token array — the query is a handful of terms,
    * so NO explode and no per-word shuffle. The corpus stats the formula
    * needs (N, avgdl, df per term) reduce to ONE 1-row aggregate,
    * broadcast back onto the scan; the whole scoring pass is
    * scan → tiny-agg → broadcast → map, linear at any corpus size.
    * Matching is exact on lowercased whitespace tokens ([[tokens]]).
    */
  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String,
           textCol: String, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty query")
    val terms = queryTerms.map(_.toLowerCase)
    val toks = transform(tokens(col(textCol)), t => lower(t))
    def tfOf(t: String): Column =
      when(length(trim(col(textCol))) === 0, lit(0))
        .otherwise(size(filter(toks, x => x === lit(t))))
    val dl = tokenCount(col(textCol)).cast("double")

    // pinned (round 19, guide §2.4): the corpus-stats reduce and the
    // scoring projection are two readers of this slim (id, dl, tf*)
    // frame — unpinned, each re-ran the per-term tokenize/filter pass
    val perDoc = graft.operators.Checkpoints.pin(df.select(
      (col(idCol) +: dl.as("__dl") +:
        terms.zipWithIndex.map { case (t, i) => tfOf(t).cast("double").as(s"__tf$i") }): _*))
    // N, avgdl, and df(t) for every query term in ONE pass / one row
    val statAggs: Seq[Column] =
      count(lit(1)).cast("double").as("__n") +: avg("__dl").as("__avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1).otherwise(0)).cast("double").as(s"__df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)

    val scored = perDoc.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    scored.select(col(idCol), (round4(score) + lit(0.0)).as("bm25"))
  }

  /** Sequence-packing offset map (concat-and-split): documents are laid
    * end-to-end in ascending id order and cut into training sequences of
    * exactly `budget` tokens; each document reports the sequence it
    * starts in and its token offset there (a document may span a cut —
    * that IS concat-and-split packing, zero padding waste).
    *
    * The global token layout comes from [[graft.operators.BucketedPrefixSum]],
    * so no single task ever sees the whole corpus: one shuffle on the id
    * bucket, a bucket-count-sized offset table broadcast back. Output is
    * one row per document: (id, n_tokens, seq_id, seq_offset).
    */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, budget: Int,
                    bucketWidth: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val counted = nonBlank(df, textCol)
      .select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
    graft.operators.BucketedPrefixSum(counted, idCol, "n_tokens", "__start",
      bucketWidth)
      .select(col(idCol), col("n_tokens"),
        expr(s"__start div $budget").as("seq_id"),
        pmod(col("__start"), lit(budget.toLong)).as("seq_offset"))
  }

  /** Character-unigram Shannon entropy in nats, the classic gibberish /
    * boilerplate signal (low entropy = repeated characters or trivial
    * alphabets; English prose sits near 4.1 bits ≈ 2.8 nats).
    * H = ln L − (Σ_c n_c·ln n_c) / L over code-point counts, computed by
    * the fused one-pass codegen kernel [[graft.functions.CharEntropy]]
    * (O(L) per row, no per-char arrays or lambdas) — entirely WITHIN the
    * row: zero shuffle, scan-bound at any corpus size. 4-dp-rounded for
    * cross-engine parity (same policy as [[qualityScore]]). Blank/null
    * text scores 0. */
  def charEntropy(text: Column): Column =
    coalesce(graft.functions.CharEntropy(text), lit(0.0))

  /** The composable SQL-lambda form [[charEntropy]]'s kernel replaced —
    * kept as the independent oracle the spec pins the codegen kernel
    * against (O(|alphabet|·L): one `replace` length-diff per DISTINCT
    * character). `split(text, "")` under Java regex semantics keeps a
    * trailing empty element; the non-empty filter drops it (an empty
    * "character" would make ln(0) = −∞ and poison the sum). */
  private[graft] def charEntropyLambda(text: Column): Column = {
    val len = length(text).cast("double")
    val chars = filter(array_distinct(split(text, "")), c => c =!= "")
    val s = aggregate(chars, lit(0.0), (acc, ch) => {
      val n = (len - length(replace(text, ch, lit("")))).cast("double")
      acc + n * log(n)
    })
    when(text.isNull || len === 0, lit(0.0))
      .otherwise(round4(log(len) - s / len))
  }

  /** Marker words per language for the n-gram-heuristic language ID. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "les", "et", "une"),
    "de" -> Seq("der", "die", "und", "das"))

  private def markerCount(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers: _*)))

  /** Heuristic language ID: argmax of marker-word hits with a fixed
    * priority order (en > es > fr > de) for ties; no hit at all -> "und".
    */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (lang, markers) =>
      lang -> markerCount(text, markers)
    }
    val total = counts.map(_._2).reduce(_ + _)
    val best = counts.zipWithIndex.foldRight(lit("und")) {
      case (((lang, cnt), idx), elseExpr) =>
        val beatsLater = counts.drop(idx + 1).map(_._2)
          .foldLeft(lit(true))((acc, c) => acc && cnt >= c)
        when(beatsLater, lit(lang)).otherwise(elseExpr)
    }
    when(total === 0, lit("und")).otherwise(best)
  }

  /** Vocabulary-growth (Heaps-law) curve: distinct-token count as a
    * function of corpus size, measured along a SEEDED random document
    * order — the scaling-law input for "how much new vocabulary does
    * the next 10x of data buy" and the canary for corpora whose tail
    * is template spam (vocab flattens early).
    *
    * The trick that keeps it one pass and orderless: a document's
    * position in the seeded shuffle is monotone in its 32-bit md5 hash
    * (the [[graft.operators.GlobalShuffle]] family), so "the first p%
    * of the shuffled corpus" IS "documents with hash < p·2^32" — no
    * global sort, no rank window. Per prefix then: docs and tokens by
    * conditional sums over one doc-level scan, and vocabulary as
    * tokens whose MIN document hash clears the cutoff — one grouped
    * min over the exploded tokens (map-side combined; the shuffle
    * carries one row per distinct token), one conditional-sum reduce.
    * Both sides exact; DuckDB replays the identical md5 cutoffs.
    *
    * Output: one row per requested prefix fraction, ascending —
    * (pct, cutoff, docs, tokens, vocab). Blank/null docs count zero
    * tokens (the [[tokenCount]] convention) and no vocabulary. */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, seed: String,
                  pcts: Seq[Double]): org.apache.spark.sql.DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p <= 1.0),
      s"prefix fractions must sit in (0, 1], got $pcts")
    val cutoffs = pcts.sorted.map(p =>
      p -> math.floor(p * 4294967296.0).toLong)
    val h32 = Md5Prefix(concat(lit(seed), lit("|"),
      col(idCol).cast("string")), 8)
    val docs = df.where(col(idCol).isNotNull)
      .select(h32.as("h"), trim(col(textCol)).as("t"))
      .select(col("h"), when(col("t").isNotNull && length(col("t")) > 0,
        col("t")).otherwise(lit(null)).as("t"))
    val docCols = cutoffs.flatMap { case (_, c) => Seq(
      sum(when(col("h") < c, 1L).otherwise(0L)).as(s"docs_$c"),
      sum(when(col("h") < c && col("t").isNotNull,
        size(split(col("t"), "\\s+")).cast("long")).otherwise(0L))
        .as(s"tokens_$c"))
    }
    val docAgg = docs.agg(docCols.head, docCols.tail: _*)
    val tokMin = docs.where(col("t").isNotNull)
      .select(col("h"), explode(split(col("t"), "\\s+")).as("tok"))
      .groupBy("tok").agg(min("h").as("mh"))
    val vocCols = cutoffs.map { case (_, c) =>
      sum(when(col("mh") < c, 1L).otherwise(0L)).as(s"vocab_$c")
    }
    val vocAgg = tokMin.agg(vocCols.head, vocCols.tail: _*)
    val stacked = cutoffs.map { case (p, c) =>
      s"${p}D, ${c}L, docs_$c, tokens_$c, vocab_$c"
    }.mkString(", ")
    docAgg.crossJoin(vocAgg)
      .selectExpr(s"stack(${cutoffs.size}, $stacked) AS " +
        "(pct, cutoff, docs, tokens, vocab)")
      .orderBy("pct")
  }
}
