package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession,
  SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, concat_ws, element_at, split, trim}
import org.apache.spark.sql.types.StringType
import graft.dedup.{Dedup, NgramSpans, SortedNeighborhood}
import graft.functions.{CharEntropy, DotProduct, FirstEqualIndex,
  JaroWinkler, MinHashSignature, ParseLocaleNumber, SimHash64,
  SortedJaccard}
import graft.graph.{KCore, LabelProp, NeighborJaccard, PageRank}
import graft.multimodal.Multimodal
import graft.operators.{Analytics, Auc, Benford, Bootstrap, ChiSquare,
  ClassBalance, Compaction, Cooccur, Curriculum, Cusum, DatasetSplit,
  DeterministicSplit, Dsir, Entropy, Gini, GlobalShuffle, HeavyHitters, Holt,
  JsDivergence, Kappa, KsDrift, Labeling, Md5, MixPlan, MixtureKl, Moments,
  NegativeSample, Pareto, RankNormalize, Resample, TemperatureMixture,
  TokenBudget}
import graft.pipeline.Rag
import graft.similarity.{Mmr, ScalarQuantizer, Similarity}
import graft.streaming.StreamingHll
import graft.textanalysis.{Chunker, HtmlStrip, InvertedIndex, NaiveBayes, Oov,
  PerplexityBuckets, TermStats, TextAnalysis, UnigramLm}

/** Session extension registering the engine's native expressions for SQL:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   // or .withExtensions(new GraftExtensions)
  * }}}
  *
  * makes `locale_num(col)` and `dot_product(a, b)` available to
  * `spark.sql(...)` on every session of the application — the supported
  * injection point (vs the per-session temp registration in
  * [[graft.functions.GraftFunctions.register]]).
  *
  * The whole-relation operators are SQL table functions, declared once
  * each in [[GraftExtensions.tableFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("locale_num"),
      info("locale_num", "locale_num(str) - locale-tolerant numeric parse"),
      (args: Seq[Expression]) => ParseLocaleNumber(args.head)))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - fused array<double> dot product"),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))))
    def arity(name: String, n: Int, args: Seq[Expression]): Unit =
      require(args.length == n, s"$name expects $n arguments, got ${args.length}")
    e.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(tokens, k) - k-slot minhash of array<string> (k a literal int)"),
      (args: Seq[Expression]) => {
        arity("minhash_signature", 2, args)
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        // bounds-check on the 64-bit value BEFORE narrowing: intValue()
        // would truncate 2^32+16 to an in-range 16 and silently alias k
        val k = args(1) match {
          case e if e.foldable && Seq(ByteType, ShortType, IntegerType,
            LongType).contains(e.dataType) && e.eval() != null =>
            e.eval().asInstanceOf[Number].longValue()
          case _ => throw new IllegalArgumentException(
            "minhash_signature(tokens, k): k must be a literal integer")
        }
        require(k > 0 && k <= 4096,
          s"minhash_signature: k must be in [1, 4096], got $k")
        MinHashSignature(args.head, k.toInt)
      }))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit simhash of array<string>"),
      (args: Seq[Expression]) => {
        arity("simhash64", 1, args); SimHash64(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("sorted_jaccard"),
      info("sorted_jaccard",
        "sorted_jaccard(a, b) - jaccard of two sorted array<long> hash sets (null elements ignored)"),
      (args: Seq[Expression]) => {
        arity("sorted_jaccard", 2, args)
        // order-preserving null removal: the kernel rejects nullable
        // elements (a NULL slot would merge as 0), and for the SQL
        // surface "nulls are absent from the set" is the sane semantic
        import org.apache.spark.sql.catalyst.expressions.ArrayCompact
        SortedJaccard(ArrayCompact(args.head), ArrayCompact(args(1)))
      }))
    e.injectFunction((
      FunctionIdentifier("first_equal_index"),
      info("first_equal_index",
        "first_equal_index(a, b) - first position where two array<long> agree, or -1"),
      (args: Seq[Expression]) => {
        arity("first_equal_index", 2, args); FirstEqualIndex(args.head, args(1))
      }))
    e.injectFunction((
      FunctionIdentifier("char_entropy"),
      info("char_entropy",
        "char_entropy(str) - 4dp Shannon entropy of the code-point distribution (nats)"),
      (args: Seq[Expression]) => {
        arity("char_entropy", 1, args); CharEntropy(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize",
        "nfc_normalize(str) - Unicode NFC canonical composition (UAX#15), codegen, fast-path no-op on already-normalized text"),
      (args: Seq[Expression]) => {
        arity("nfc_normalize", 1, args)
        graft.functions.NfcNormalizeExpr(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(a, b) - classic Jaro-Winkler similarity (p=0.1, prefix<=4, boost>0.7), DuckDB-bit-exact on ASCII"),
      (args: Seq[Expression]) => {
        arity("jaro_winkler", 2, args); JaroWinkler(args.head, args(1))
      }))
    e.injectFunction((
      FunctionIdentifier("format_pen"),
      info("format_pen",
        "format_pen(x) - es-PE PEN display format: 'S/ 1,234,567' (half-up to whole soles), en-dash on null/NaN"),
      (args: Seq[Expression]) => {
        arity("format_pen", 1, args)
        // the Catalyst twin of GraftFunctions.formatCurrency (the
        // Column DSL can't be handed to injectFunction: it wraps as an
        // unresolvable ColumnNodeExpression) — Round16Spec and
        // ExtensionsRegistrationSpec pin the two forms to the same
        // values on the same lanes
        import org.apache.spark.sql.catalyst.expressions.{
          CaseWhen, Cast, Concat, IsNaN, IsNull, Literal, Or, Round}
        import org.apache.spark.sql.types.DoubleType
        val d = Cast(args.head, DoubleType)
        CaseWhen(
          Seq((Or(IsNull(d), IsNaN(d)), Literal("–"))),
          Some(Concat(Seq(Literal("S/ "),
            org.apache.spark.sql.catalyst.expressions.FormatNumber(
              Round(d, Literal(0)), Literal(0))))))
      }))
    // naive `levenshtein(a,b) <= d` predicates (Filter or Join) become
    // length-pruned + banded-DP form; see the rule's scaladoc
    e.injectOptimizerRule(_ => graft.plans.FuzzyMatchPruning)
    // plans graft.plans.TopKPerGroup as partial -> exchange -> final
    // bounded-buffer execs (never sorts more than k rows per group)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)

    // ---- table-valued surface: the whole-relation curation operators ----
    // SELECT * FROM graft_minhash_keep('docs', 'doc_id', 'text'): the TVF
    // builder resolves the named table/view through the active session's
    // catalog and returns the SAME logical plan the Scala builder method
    // produces — SQL users get the operator, not a reimplementation
    // (row equality pinned in ExtensionsRegistrationSpec).
    tableFunctions.foreach { f =>
      e.injectTableFunction((FunctionIdentifier(f.name), info(f.name, f.usage),
        f.build _))
    }
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** One SQL table function. `usage` opens with the `name(a, b, ...)`
    * signature, which fixes the function's name, its arity and the
    * argument names its errors cite; `body` reads the literal arguments
    * by position and returns the builder method's frame. */
  final class TableFunction(val usage: String, body: TvfArgs => Dataset[_]) {
    val name: String = usage.takeWhile(_ != '(')
    val argNames: IndexedSeq[String] =
      usage.slice(name.length + 1, usage.indexOf(')')).split(",")
        .map(_.trim).toIndexedSeq

    def build(args: Seq[Expression]): LogicalPlan = {
      require(args.length == argNames.length,
        s"$name expects ${argNames.length} arguments")
      body(new TvfArgs(this, args)).queryExecution.logical
    }
  }

  /** The arguments of one table-function call. Every argument is a
    * literal: table names and column names are strings, sizes and
    * thresholds are numbers. */
  final class TvfArgs(f: TableFunction, args: Seq[Expression]) {
    def fn: String = f.name

    private def fail(i: Int, what: String): Nothing =
      throw new IllegalArgumentException(s"$fn: ${f.argNames(i)} must be $what")

    def str(i: Int): String = args(i) match {
      case l if l.foldable && l.dataType == StringType && l.eval() != null =>
        l.eval().toString
      case _ => fail(i, "a non-null string literal")
    }
    /** A comma-separated list literal. */
    def strs(i: Int): Seq[String] = str(i).split(",").toSeq
    def col(i: Int): Column = org.apache.spark.sql.functions.col(str(i))
    def table(i: Int): DataFrame = SparkSession.active.table(str(i))

    private def numText(i: Int): String = args(i) match {
      case l if l.foldable && l.eval() != null => l.eval().toString
      case _ => fail(i, "a numeric literal")
    }
    /** Decimal, double and integer literals alike. */
    def num(i: Int): Double = numText(i).toDouble
    // exact on the literal's text: narrowing through a Double would turn
    // 2.7 into 2 and saturate 1e10 at Int.MaxValue without a word
    def int(i: Int): Int = whole(i, "an int")(_.isValidInt).toInt
    def long(i: Int): Long = whole(i, "a long")(_.isValidLong).toLong
    private def whole(i: Int, what: String)(fits: BigDecimal => Boolean)
        : BigDecimal = {
      val s = numText(i)
      scala.util.Try(BigDecimal(s)).toOption.filter(fits).getOrElse(
        fail(i, s"a whole-number literal that fits $what, got $s"))
    }
  }

  private def tvf(usage: String)(body: TvfArgs => Dataset[_]): TableFunction =
    new TableFunction(usage, body)

  /** Every SQL table function, in registration order. */
  val tableFunctions: Seq[TableFunction] = Seq(
    tvf("graft_exact_dedup(table, idCol, textCol) - word-set digest groups: (dedup_key, first_id, n_docs)")(a =>
      Dedup.exactGroups(a.table(0), a.str(1), a.str(2))),
    tvf("graft_minhash_keep(table, idCol, textCol) - one-pass MinHash LSH dedup decision (md5 family): (id, rep_id, is_kept)")(a =>
      Dedup.minhashRepresentativesMd5(a.table(0), a.str(1), a.str(2))),
    tvf("graft_containment_keep(table, idCol, textCol, threshold) - one-pass containment dedup decision: (id, rep_id, is_kept)")(a =>
      Dedup.containmentRepresentatives(a.table(0), a.str(1), a.str(2), a.num(3))),
    tvf("graft_hll_distinct(table, keyCol, p) - replayable md5 HyperLogLog cardinality estimate: (hll_est)") { a =>
      val p = a.int(2)
      Analytics.hllEstimate(Analytics.hllRegisters(a.table(0), a.str(1), p), p)
    },
    tvf("graft_topk_group(table, groupCol, orderCol, k, tieCol) - salted per-group top-k (rk column appended)")(a =>
      Analytics.topKPerGroup(a.table(0), Seq(a.str(1)), a.str(2), a.int(3),
        Seq(a.str(4)), salts = 8)),
    tvf("graft_split(table, keyCol, wTrain, wVal, wTest) - deterministic md5 train/val/test split")(a =>
      DeterministicSplit(a.table(0), Seq(a.str(1)), Seq("train" -> a.num(2),
        "val" -> a.num(3), "test" -> a.num(4)))),
    tvf("graft_kmv_distinct(table, keyCol, k) - replayable bottom-k (KMV) distinct estimate: (kmv_est)") { a =>
      val k = a.int(2)
      Analytics.kmvEstimate(Analytics.kmvSketch(a.table(0), a.str(1), k), k)
    },
    tvf("graft_qsketch(table, keyCols, valueCol, k, probs) - mergeable bottom-k-by-hash quantile estimates (keyCols/probs comma-separated): (prob, est_q)") { a =>
      val keyCols = a.strs(1)
      val probs = a.strs(4).map(p => p -> p.toDouble)
      Analytics.qsketchQuantiles(Analytics.qsketchSample(a.table(0),
        concat_ws("|", keyCols.map(col): _*), a.str(2), a.int(3)), probs)
    },
    tvf("graft_qsketch_grouped(table, groupCols, keyCols, valueCol, k, probs) - per-group bottom-k-by-hash quantile estimates (groupCols/keyCols/probs comma-separated): groupCols + (prob, est_q)") { a =>
      val groupCols = a.strs(1)
      val keyCols = a.strs(2)
      val probs = a.strs(5).map(p => p -> p.toDouble)
      Analytics.qsketchQuantilesGrouped(Analytics.qsketchSampleGrouped(a.table(0),
        groupCols, concat_ws("|", keyCols.map(col): _*), a.str(3), a.int(4)),
        groupCols, probs)
    },
    tvf("graft_exact_quantiles(table, keyCols, valueCol, k, nBuckets, probs) - EXACT quantile_cont values by sketch-guided selection, no global sort (keyCols/probs comma-separated): (prob, exact_q)") { a =>
      val keyCols = a.strs(1)
      val probs = a.strs(5).map(p => p -> p.toDouble)
      Analytics.exactQuantilesSelect(a.table(0), concat_ws("|",
        keyCols.map(col): _*), a.str(2), probs, a.int(3), a.int(4))
    },
    tvf("graft_exact_quantiles_grouped(table, groupCol, keyCols, valueCol, k, nBuckets, probs) - EXACT per-group quantile_cont values by sketch-guided selection (keyCols/probs comma-separated): (groupCol, prob, exact_q)") { a =>
      val keyCols = a.strs(2)
      val probs = a.strs(6).map(p => p -> p.toDouble)
      Analytics.exactQuantilesSelectGrouped(a.table(0), a.str(1),
        concat_ws("|", keyCols.map(col): _*), a.str(3), probs, a.int(4),
        a.int(5))
    },
    tvf("graft_equidepth(table, keyCols, valueCol, k, nBuckets) - equi-depth range bucket per row from a bottom-k quantile sketch (keyCols comma-separated): input cols + (bucket)") { a =>
      val keyCols = a.strs(1)
      Analytics.qsketchRangeBuckets(a.table(0), concat_ws("|",
        keyCols.map(col): _*), a.str(2), a.int(3), a.int(4))
    },
    tvf("graft_drift_psi(baseTable, currentTable, valueCol, buckets) - PSI drift report between two table versions: (bucket, p_base, p_cur, psi)")(a =>
      Analytics.driftPsi(a.table(0), a.table(1), a.str(2), a.int(3))),
    tvf("graft_strip_dup_spans(table, idCol, textCol, n) - cut every non-canonical duplicated n-gram span: (id, n_tokens, n_removed, clean_text)")(a =>
      TextAnalysis.stripDuplicatedSpans(a.table(0), a.str(1), a.str(2),
        a.int(3))),
    tvf("graft_ewma_anomaly(table, partCols, orderCols, valueCol, alpha, span, k, minN) - EWMA-forecast anomaly flags per key (cols comma-separated): input cols + (ewma, forecast, anom_score, is_anomaly)")(a =>
      Analytics.ewmaAnomaly(a.table(0), a.strs(1), a.strs(2), a.str(3),
        a.num(4), a.int(5), a.num(6), a.int(7))),
    tvf("graft_nb_score(trainTable, scoreTable, idCol, textCol, labelCol, posLabel, alpha) - Naive-Bayes mean-likelihood-ratio scores of scoreTable against a model trained on trainTable: (id, nb_score, nb_pred)") { a =>
      val model = NaiveBayes.train(a.table(0), a.str(3),
        a.col(4) === a.str(5), a.num(6))
      NaiveBayes.score(model, a.table(1), a.str(2), a.str(3))
    },
    tvf("graft_rag(docsTable, embTable, queryVecId, terms, n, c, k, budget) - RAG retrieval pipeline: span-scrub -> BM25 + dense lists -> RRF fusion -> greedy packing under the token budget (terms comma-separated); docsTable needs (doc_id, text), embTable (vec_id, embedding)")(a =>
      Rag.pack(a.table(0), a.table(1), a.long(2), a.strs(3), a.int(4),
        a.int(5), a.int(6), a.long(7))),
    tvf("graft_heavy_hitters(table, keyCol, minShare) - exact keys above the share threshold via a Misra-Gries sketch + verify pass: (k, cnt, share)")(a =>
      HeavyHitters.exact(a.table(0), a.col(1), a.num(2))),
    tvf("graft_paragraph_dedup(table, idCol, textCol, window) - keep-first chunk-level dedup with document reassembly: (id, n_chunks, n_kept, n_dropped, kept_text)")(a =>
      Dedup.paragraphDedup(a.table(0), a.str(1), a.str(2), a.int(3))),
    tvf("graft_temperature_mix(table, sourceCol, total, seedCols) - alpha=0.5 temperature-rebalanced sample with exact per-source quotas (seedCols comma-separated): input rows kept")(a =>
      TemperatureMixture(a.table(0), a.str(1), a.long(2), a.strs(3), hash = Md5)),
    tvf("graft_compaction_bins(statsTable, fileCol, bytesCol, targetBytes) - greedy first-fit bin per file off an exclusive byte prefix sum: stats cols + (cum_before, bin)")(a =>
      Compaction.planBins(a.table(0), a.str(1), a.str(2), a.long(3))),
    tvf("graft_skyline(table, xCol, yCol) - 2-D min-min Pareto frontier over distinct pairs: (x, y, n_rows)")(a =>
      Pareto.skyline2D(a.table(0), a.col(1), a.col(2))),
    tvf("graft_label_prop(edgesTable, srcCol, dstCol, rounds) - synchronous label propagation with min-label tie-break: (node, label)")(a =>
      LabelProp(a.table(0), a.str(1), a.str(2), a.int(3))),
    tvf("graft_cooccur_pairs(table, basketCol, itemCol, minSupport) - A-Priori-pruned frequent co-occurring pairs: (item_a, item_b, pair_cnt)")(a =>
      Cooccur.frequentPairs(a.table(0), a.col(1), a.col(2), a.long(3))),
    tvf("graft_ks_drift(baseTable, currentTable, valueCol) - exact two-sample Kolmogorov-Smirnov statistic: (ks_stat, n_base, n_current)")(a =>
      KsDrift.ks(a.table(0), a.table(1), a.str(2))),
    tvf("graft_interpolate(table, keyCols, tCol, vCol) - linear gap interpolation per series, edges clamped (keyCols comma-separated): input cols + v_interp")(a =>
      Resample.interpolateLinear(a.table(0), a.strs(1), a.str(2), a.str(3),
        "v_interp")),
    tvf("graft_inverted_index(table, idCol, textCol, minDf, maxDf) - df-windowed inverted index over lowercased whitespace tokens: (term, df, postings)")(a =>
      InvertedIndex.build(a.table(0), a.str(1), a.str(2), a.long(3), a.long(4))),
    tvf("graft_negatives(posTable, userCol, itemCol, nItems, k) - deterministic md5-draw negative samples per user: (user, neg_item, draw)")(a =>
      NegativeSample(a.table(0), a.col(1), a.col(2), a.long(3), a.int(4))),
    tvf("graft_rank_pct(table, valueCol) - percent_rank normalization without a one-task window: input cols + rank_pct")(a =>
      RankNormalize(a.table(0), a.str(1))),
    tvf("graft_term_mi(table, idCol, textCol, labelCol, posValue, minDf) - term-label mutual information over the 2x2 contingency: (term, df, mi)")(a =>
      TermStats.termMutualInfo(a.table(0), a.str(1), a.str(2),
        a.col(3) === a.str(4), a.long(5))),
    tvf("graft_auc(table, scoreCol, labelCol) - exact ROC AUC by the Mann-Whitney identity, no global rank window: (auc, n_pos, n_neg)")(a =>
      Auc.auc(a.table(0), a.col(1), a.col(2))),
    tvf("graft_ppr(edgesTable, srcCol, dstCol, sources, rounds) - personalized PageRank from a comma-separated seed set: (node, rank)")(a =>
      PageRank.personalized(a.table(0), a.str(1), a.str(2), a.strs(3), a.int(4))),
    tvf("graft_sparse_cosine(table, idCol, textCol, nDocs, maxDfFrac, minSim) - above-threshold tf-idf cosine pairs through the posting table: (doc_a, doc_b, cos)")(a =>
      InvertedIndex.sparseCosinePairs(a.table(0), a.str(1), a.str(2),
        a.long(3), a.num(4), a.num(5))),
    tvf("graft_gini(table, valueCol) - exact Gini concentration of a non-negative long column (scale currency to cents first): (gini, n, total)")(a =>
      Gini.gini(a.table(0), a.col(1))),
    tvf("graft_gini_grouped(table, groupCol, valueCol) - exact per-group Gini concentration: (g, gini, n, total)")(a =>
      Gini.giniGrouped(a.table(0), a.col(1), a.col(2))),
    tvf("graft_auc_grouped(table, groupCol, scoreCol, labelCol) - exact per-group ROC AUC by the Mann-Whitney identity: (g, auc, n_pos, n_neg)")(a =>
      Auc.aucGrouped(a.table(0), a.col(1), a.col(2), a.col(3))),
    tvf("graft_ks_drift_grouped(baseTable, currentTable, groupCol, valueCol) - exact per-group two-sample Kolmogorov-Smirnov statistic: (g, ks_stat, n_base, n_current)")(a =>
      KsDrift.ksGrouped(a.table(0), a.table(1), a.col(2), a.str(3))),
    tvf("graft_rank_pct_grouped(table, groupCol, valueCol) - per-group percent_rank normalization, no per-group one-task window: input cols + rank_pct")(a =>
      RankNormalize.grouped(a.table(0), a.col(1), a.str(2))),
    tvf("graft_lorenz(table, valueCol, points) - exact Lorenz-curve points of a non-negative long column: (p, r, cum_share)")(a =>
      Gini.lorenz(a.table(0), a.col(1), a.int(2))),
    tvf("graft_chunk(table, idCol, textCol, size, overlap) - fixed-size token chunks with overlap: (id, chunk_id, n_chunk_tokens, chunk_text)")(a =>
      Chunker.chunk(a.table(0), a.str(1), a.str(2), a.int(3), a.int(4))),
    tvf("graft_mixture_kl(table, sourceCol, recipe) - per-source share vs a 'src:w,src:w' target recipe + KL contribution: (source, n, share, target_w, kl_term)") { a =>
      val recipe = a.str(2).split(",").map { kv =>
        val Array(src, w) = kv.split(":")
        src.trim -> w.trim.toDouble
      }.toMap
      MixtureKl.audit(a.table(0), a.col(1), recipe)
    },
    tvf("graft_unigram_logprob(table, idCol, textCol) - add-1 unigram LM mean token log-probability per document: (id, n_tokens, avg_logprob)")(a =>
      UnigramLm.scoreDocs(a.table(0), a.str(1), a.str(2))),
    tvf("graft_mmr(poolTable, idCol, vecCol, relCol, k) - maximal-marginal-relevance re-rank of a bounded candidate pool: (rank, id, mmr_score)")(a =>
      Mmr.rerank(a.table(0), a.str(1), a.str(2), a.str(3), a.int(4))),
    tvf("graft_strip_html(table, idCol, htmlCol) - drop script/style blocks, strip tags, decode entities, collapse whitespace: (id, n_tags, text_clean)") { a =>
      val c = a.col(2)
      a.table(0).select(a.col(1),
        HtmlStrip.tagCount(c).cast("long").as("n_tags"),
        HtmlStrip.strip(c).as("text_clean"))
    },
    tvf("graft_oov_rate(table, idCol, textCol, k) - per-doc out-of-vocabulary rate vs the corpus top-k vocab: (id, n_tokens, n_oov, oov_rate)")(a =>
      Oov.oovRate(a.table(0), a.str(1), a.str(2), a.int(3))),
    tvf("graft_token_budget(table, sourceCol, idCol, textCol, budget) - admit docs per source (ascending id) until the token budget: (source, id, n_tokens, cum_tokens)")(a =>
      TokenBudget.cap(a.table(0), a.str(1), a.str(2), a.str(3), a.long(4))),
    tvf("graft_moments(table, keyCol, valueCol) - per-key population skewness/excess kurtosis from one power-sum pass: (key, n, mean, skewness, kurtosis_excess)")(a =>
      Moments.shape(a.table(0), a.col(1), a.col(2))),
    tvf("graft_kcore(edgesTable, aCol, bCol, k, rounds) - k-core peel (degree < k drops, up to `rounds` synchronous rounds): (node, degree)")(a =>
      KCore.peel(a.table(0), a.str(1), a.str(2), a.int(3), a.int(4))),
    tvf("graft_benford(table, valueCol) - first-significant-digit distribution vs Benford's law: (digit, n, share, expected, dev)")(a =>
      Benford.firstDigit(a.table(0), a.col(1))),
    tvf("graft_holt(table, keyCol, tCol) - Holt level+trend smoothing of per-key period counts: (key, n_periods, level, trend, forecast)")(a =>
      Holt.linear(a.table(0), a.col(1), a.col(2))),
    tvf("graft_bootstrap_means(table, seedCol, valueCol, b) - deterministic Poisson-bootstrap replicate means of a long column: (rep, n_eff, mean)")(a =>
      Bootstrap.replicateMeans(a.table(0), a.col(1), a.col(2), a.int(3))),
    tvf("graft_bootstrap_ci(table, seedCol, valueCol, b, alpha) - Poisson-bootstrap percentile interval + point estimate: (b, point, ci_lo, ci_hi)")(a =>
      Bootstrap.ci(a.table(0), a.col(1), a.col(2), a.int(3), a.num(4))),
    tvf("graft_class_balance(table, classCol, idCol) - keep min-class-count md5-smallest rows per class (input cols)")(a =>
      ClassBalance.downsample(a.table(0), a.str(1), a.str(2))),
    tvf("graft_hll_stream_merge(table, keyCol, itemCol) - order-free streaming-HLL end states merged to estimates: (key, n_events, hll_est)")(a =>
      StreamingHll.merged(StreamingHll.endStates(a.table(0), a.str(1),
        a.str(2)))),
    tvf("graft_global_shuffle(table, idCol, seed, nShards) - seeded reproducible corpus permutation + shard assignment: (id, sort_key, shard, pos)")(a =>
      GlobalShuffle.shuffle(a.table(0), a.col(1), a.str(2), a.int(3))),
    tvf("graft_shuffle_pack(table, idCol, textCol, seed, nShards, capacity) - shuffled doc-granularity bin packing: (shard, bin, pos, id, n_tokens, cum_before)")(a =>
      GlobalShuffle.packBins(a.table(0), a.col(1), a.col(2), a.str(3),
        a.int(4), a.long(5))),
    tvf("graft_js_divergence(tableA, tableB, categoryCol) - per-category Jensen-Shannon terms between two snapshots: (category, n_base, n_current, p, q, js_term)")(a =>
      JsDivergence.audit(a.table(0), a.table(1), a.col(2))),
    tvf("graft_kappa(table, labelACol, labelBCol) - Cohen's kappa labeler agreement: (n, p_o, p_e, kappa)")(a =>
      Kappa.cohen(a.table(0), a.col(1), a.col(2))),
    tvf("graft_kappa_fleiss(table, itemCol, labelCol, raters) - Fleiss' kappa panel agreement over items with exactly `raters` ratings: (n_items, n_raters, p_bar, p_e, kappa)")(a =>
      Kappa.fleiss(a.table(0), a.col(1), a.col(2), a.int(3))),
    tvf("graft_consensus_weighted(table, itemCol, raterCol, labelCol) - reliability-weighted consensus (raters vote with their 1e6-scaled round-1 accuracy): (item, label, w_votes, votes, total)")(a =>
      Labeling.weightedConsensus(a.table(0), a.col(1), a.col(2), a.col(3))),
    tvf("graft_mix_plan(table, sourceCol, textCol, weightsSpec, budgetTokens) - source-mixture sampling plan; weightsSpec is 'src:w,src:w': (source, n_docs, n_tokens, weight, target_tokens, epochs)") { a =>
      val spec = a.strs(3).map(_.trim).filter(_.nonEmpty).map { kv =>
        val i = kv.lastIndexOf(':')
        require(i > 0 && i < kv.length - 1,
          s"${a.fn}: weightsSpec entries are 'source:weight', got '$kv'")
        kv.substring(0, i) -> kv.substring(i + 1).toDouble
      }
      require(spec.map(_._1).distinct.size == spec.size,
        s"${a.fn}: duplicate sources in weightsSpec: ${spec.map(_._1)}")
      MixPlan.plan(a.table(0), a.col(1), a.col(2), spec, a.long(4))
    },
    tvf("graft_keep_best(table, idCol, textCol, scoreCol) - exact dedup keeping the argmax-score copy per word-set digest (min id on ties): (dedup_key, keep_id, keep_score, n_docs)")(a =>
      Dedup.exactKeepBest(a.table(0), a.str(1), a.str(2), a.col(3))),
    tvf("graft_vocab_growth(table, idCol, textCol, seed) - Heaps-law vocabulary growth along the seeded shuffle order at the 1/5/10/25/50/100% prefixes: (pct, cutoff, docs, tokens, vocab)")(a =>
      TextAnalysis.vocabGrowth(a.table(0), a.str(1), a.str(2), a.str(3),
        graft.queries.Round15c.VocabPcts)),
    tvf("graft_label_consensus(table, itemCol, labelCol) - majority-vote consensus per item, deterministic (votes DESC, label ASC) tie-break: (item, label, votes, total, confidence, unanimous)")(a =>
      Labeling.consensus(a.table(0), a.col(1), a.col(2))),
    tvf("graft_rater_accuracy(table, itemCol, raterCol, labelCol) - per-rater reliability vs the panel consensus: (rater, n, n_match, accuracy)")(a =>
      Labeling.raterAccuracy(a.table(0), a.col(1), a.col(2), a.col(3))),
    tvf("graft_kripp_alpha(table, itemCol, labelCol) - Krippendorff's alpha (nominal) over variable-size panels, singletons excluded: (n_units, n_ratings, d_o, d_e, alpha)")(a =>
      Labeling.krippendorffAlpha(a.table(0), a.col(1), a.col(2))),
    tvf("graft_chi2(table, aCol, bCol) - chi-squared independence screen, one row per contingency cell: (a, b, o, e, chi2_term)")(a =>
      ChiSquare.independence(a.table(0), a.col(1), a.col(2))),
    tvf("graft_cusum(table, keyCol, tCol) - standardized count-CUSUM series per key: (key, t, c, cusum)")(a =>
      Cusum.series(a.table(0), a.col(1), a.col(2))),
    tvf("graft_cusum_peak(table, keyCol, tCol) - changepoint candidate per key (argmax |cusum|, earliest tie): (key, n_periods, cp_t, cp_cusum)")(a =>
      Cusum.changepoint(a.table(0), a.col(1), a.col(2))),
    tvf("graft_neighbor_jaccard(edgesTable, aCol, bCol) - neighbor-set Jaccard over distance-2 pairs via the wedge join: (id_a, id_b, common, jaccard)")(a =>
      NeighborJaccard.pairs(a.table(0), a.str(1), a.str(2))),
    tvf("graft_ngram_spans(table, idCol, textCol, n) - maximal cross-doc duplicated n-gram token spans: (id, span_start, span_end, span_tokens)")(a =>
      NgramSpans.spans(a.table(0), a.str(1), a.str(2), a.int(3))),
    tvf("graft_span_coverage(table, idCol, textCol, n) - per-doc cross-doc duplicated-token coverage: (id, n_tokens, dup_tokens, dup_frac)")(a =>
      NgramSpans.coverage(a.table(0), a.str(1), a.str(2), a.int(3))),
    tvf("graft_snm_pairs(table, idCol, textCol, window, minJaccard) - sorted-neighborhood near-dup pairs (block = first token, sort = text): (id_a, id_b, jaccard)") { a =>
      val textCol = a.str(2)
      val t = trim(col(textCol))
      SortedNeighborhood.pairs(a.table(0), a.str(1), textCol,
        element_at(split(t, "\\s+"), 1), t, a.int(3), a.num(4))
    },
    tvf("graft_sq8_topk(table, idCol, vecCol, dim, queryId, candidates, k) - SQ8 two-stage retrieval (int8 approximate rank, exact rescore): (id, sim)") { a =>
      val corpus = a.table(0)
      val idCol = a.str(1)
      val vecCol = a.str(2)
      val dim = a.int(3)
      val qv = corpus.filter(col(idCol) === a.long(4))
        .select(Similarity.toVec(col(vecCol))).head().getSeq[Double](0)
      val model = ScalarQuantizer.fit(corpus, vecCol, dim)
      val encoded = ScalarQuantizer.encode(corpus, idCol, vecCol, model)
      ScalarQuantizer.sqRescoreTopK(encoded, corpus, idCol, vecCol, model, qv,
        a.int(5), a.int(6))
    },
    tvf("graft_entropy(table, groupCol, catCol) - Shannon entropy of the category distribution per group: (group, n, n_cats, entropy)")(a =>
      Entropy.distribution(a.table(0), a.col(1), a.col(2))),
    tvf("graft_video_frames(table, idCol, stride, tw, th) - REAL animated-GIF fixture decode: keep every stride-th frame, NN-resample to tw x th: (doc_id, frame_idx, n_frames, width, height, checksum)")(a =>
      Multimodal.videoRoundTrip(a.table(0), a.str(1), a.int(2), a.int(3),
        a.int(4))),
    tvf("graft_image_phash_pairs(table, idCol, clusterSize, maxHamming) - dHash the REAL-decoded image fixture tier, Hamming-banded near-dup pair join: (doc_id_a, doc_id_b, hamming)")(a =>
      Multimodal.imageNearDupPairs(Multimodal.imageDHashes(a.table(0),
        a.str(1), a.int(2)).toDF(), a.int(3))),
    tvf("graft_video_neardups(table, idCol, clusterSize, maxHamming, minMatch) - per-frame dHash over the REAL GIF sequence-decode tier, (frame, band)-bucketed pair join: (doc_id_a, doc_id_b, n_frames, n_match)")(a =>
      Multimodal.videoNearDupPairs(Multimodal.videoFrameHashes(a.table(0),
        a.str(1), a.int(2)), a.int(3), a.int(4))),
    tvf("graft_audio_neardups(table, idCol, clusterSize, maxHamming) - energy-sign fingerprint over the REAL WAV decode tier, Hamming-banded pair join: (doc_id_a, doc_id_b, hamming)")(a =>
      Multimodal.audioNearDupPairs(Multimodal.audioFingerprints(a.table(0),
        a.str(1), a.int(2)).toDF(), a.int(3))),
    tvf("graft_split_by_digest(table, idCol, textCol, trainPct, valPct) - leakage-free train/val/test split keyed on the exact-dedup digest (identical copies always co-split): (id, dedup_key, split)")(a =>
      DatasetSplit.byDigest(a.table(0), a.str(1), a.str(2), a.int(3), a.int(4))),
    tvf("graft_dsir_weights(table, idCol, textCol, targetLangCol, targetLang, buckets) - DSIR hashed-unigram importance log-weights, target vs pool, ppm-exact: (id, is_target, n_tokens, logw_ppm)")(a =>
      Dsir.importanceWeights(a.table(0), a.str(1), a.str(2),
        a.col(3) === a.str(4), a.int(5))),
    tvf("graft_ccnet_buckets(table, idCol, textCol, langCol) - CCNet head/middle/tail per-language perplexity triage over the add-1 unigram LM: (lang, bucket, n_docs, n_tokens, lp_min, lp_max)")(a =>
      PerplexityBuckets.summary(a.table(0), a.str(1), a.str(2), a.str(3))),
    tvf("graft_dup_weights(table, idCol, textCol) - duplicate-count sampling weights over the exact-dedup digest: (id, dedup_key, n_docs, weight)")(a =>
      Dedup.dupWeights(a.table(0), a.str(1), a.str(2))),
    tvf("graft_exact_substr(table, idCol, textCol, minLen) - character-level ExactSubstr dedup (Lee et al. 2021): cut every non-canonical occurrence of a >= minLen-char duplicated substring, keep-first: (id, n_chars, n_removed, clean_text)")(a =>
      TextAnalysis.exactSubstrDedup(a.table(0), a.str(1), a.str(2), a.int(3))),
    tvf("graft_jpeg_dhash(table, idCol, quality) - REAL lossy JPEG round trip per id (JDK writer at quality, ImageIO decode, dHash of the decoded raster): (doc_id, width, height, dhash)")(a =>
      Multimodal.jpegDHashes(a.table(0), a.str(1), a.num(2).toFloat)),
    tvf("graft_ccnet_stream_buckets(table, idCol, textCol, langCol) - streaming twin of graft_ccnet_buckets: triage cuts from the bounded keyed quantile sketch instead of the exact terciles: (lang, bucket, n_docs, n_tokens, lp_min, lp_max)")(a =>
      PerplexityBuckets.streamingSummary(a.table(0), a.str(1), a.str(2),
        a.str(3))),
    tvf("graft_importance_sample(table, k, tauPpm) - deterministic Gumbel top-k importance resampling over a weights frame with (id, logw_ppm) columns (e.g. graft_dsir_weights output): input columns + key_ppm, the k largest keys")(a =>
      Dsir.gumbelTopK(a.table(0), a.int(1), a.long(2))),
    tvf("graft_curriculum(table, difficultyCol, nBands) - band-interleaved curriculum schedule over the laned rank machinery: input columns + band + within_pct; consume ORDER BY within_pct, band")(a =>
      Curriculum.interleave(a.table(0), a.str(1), a.int(2))),
    tvf("graft_exact_substr_min(table, idCol, textCol, minLen, k) - winnowed-minimizer ExactSubstr dedup: output-identical to graft_exact_substr, both gram-sized shuffles cut ~(minLen-k+1)/2x by k-gram minimizer pre-selection: (id, n_chars, n_removed, clean_text)")(a =>
      TextAnalysis.exactSubstrDedupMinimized(a.table(0), a.str(1), a.str(2),
        a.int(3), a.int(4))),
    tvf("graft_jpeg_dhash_tolerant(table, idCol, quality) - corruption-tolerant sibling of graft_jpeg_dhash: corrupt payloads book ok=false with null features, never a thrown task: (doc_id, ok, width, height, dhash)")(a =>
      Multimodal.jpegDHashesTolerant(a.table(0), a.str(1), a.num(2).toFloat))
  )
}
