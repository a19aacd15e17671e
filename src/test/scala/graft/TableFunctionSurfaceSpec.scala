package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions.{TableFunction, TvfArgs}

/** The SQL table-function surface as a whole: every declaration in
  * [[GraftExtensions.tableFunctions]] shares one argument policy (arity,
  * literal decoding, integer narrowing), and the registered name set is
  * pinned so a TVF cannot appear or vanish unnoticed. */
class TableFunctionSurfaceSpec extends AnyFunSuite {

  /** Runs `body` on a session built with the extension (the shared
    * SparkContext is reused; the previous active/default sessions are
    * restored afterwards, as in ExtensionsRegistrationSpec). */
  private def withExtSession(body: SparkSession => Unit): Unit = {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      body(SparkSession.builder()
        .master("local[2]")
        .appName("graft-tvf-surface-test")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
      if (prevActive.isEmpty) SparkSession.clearActiveSession()
      if (prevDefault.isEmpty) SparkSession.clearDefaultSession()
    }
  }

  /** Every message on the cause chain: Spark may wrap a builder's
    * exception during analysis. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  private val Pinned = Set(
    "graft_audio_neardups", "graft_auc", "graft_auc_grouped",
    "graft_benford", "graft_bootstrap_ci", "graft_bootstrap_means",
    "graft_ccnet_buckets", "graft_ccnet_stream_buckets", "graft_chi2",
    "graft_chunk", "graft_class_balance", "graft_compaction_bins",
    "graft_consensus_weighted", "graft_containment_keep",
    "graft_cooccur_pairs", "graft_curriculum", "graft_cusum",
    "graft_cusum_peak", "graft_drift_psi", "graft_dsir_weights",
    "graft_dup_weights", "graft_entropy", "graft_equidepth",
    "graft_ewma_anomaly", "graft_exact_dedup", "graft_exact_quantiles",
    "graft_exact_quantiles_grouped", "graft_exact_substr",
    "graft_exact_substr_min", "graft_gini", "graft_gini_grouped",
    "graft_global_shuffle", "graft_heavy_hitters", "graft_hll_distinct",
    "graft_hll_stream_merge", "graft_holt", "graft_image_phash_pairs",
    "graft_importance_sample", "graft_interpolate", "graft_inverted_index",
    "graft_jpeg_dhash", "graft_jpeg_dhash_tolerant", "graft_js_divergence",
    "graft_kappa", "graft_kappa_fleiss", "graft_kcore", "graft_keep_best",
    "graft_kmv_distinct", "graft_kripp_alpha", "graft_ks_drift",
    "graft_ks_drift_grouped", "graft_label_consensus", "graft_label_prop",
    "graft_lorenz", "graft_minhash_keep", "graft_mix_plan",
    "graft_mixture_kl", "graft_mmr", "graft_moments", "graft_nb_score",
    "graft_negatives", "graft_neighbor_jaccard", "graft_ngram_spans",
    "graft_oov_rate", "graft_paragraph_dedup", "graft_ppr",
    "graft_qsketch", "graft_qsketch_grouped", "graft_rag",
    "graft_rank_pct", "graft_rank_pct_grouped", "graft_rater_accuracy",
    "graft_shuffle_pack", "graft_skyline", "graft_snm_pairs",
    "graft_span_coverage", "graft_sparse_cosine", "graft_split",
    "graft_split_by_digest", "graft_sq8_topk", "graft_strip_dup_spans",
    "graft_strip_html", "graft_temperature_mix", "graft_term_mi",
    "graft_token_budget", "graft_topk_group", "graft_unigram_logprob",
    "graft_video_frames", "graft_video_neardups", "graft_vocab_growth")

  private val decls: Seq[TableFunction] = GraftExtensions.tableFunctions

  test("the registered graft_* table functions are exactly the pinned " +
    "90, each registered with its declared usage") {
    assert(Pinned.size === 90)
    assert(decls.map(_.name).distinct.size === decls.size,
      "a TVF name is declared twice")
    assert(decls.map(_.name).toSet === Pinned)
    withExtSession { spark =>
      val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.tableFunctionRegistry
      val registered = reg.listFunction().map(_.funcName)
        .filter(_.startsWith("graft_")).toSet
      assert(registered === Pinned)
      decls.foreach { f =>
        assert(reg.lookupFunction(FunctionIdentifier(f.name)).get.getUsage ===
          f.usage, f.name)
      }
    }
  }

  test("every signature names each argument once") {
    decls.foreach { f =>
      assert(f.usage.startsWith(s"${f.name}("), f.usage)
      assert(f.argNames.nonEmpty && f.argNames.forall(_.matches("\\w+")),
        s"${f.name}: unparsable signature ${f.argNames}")
      assert(f.argNames.distinct.size === f.argNames.size, f.name)
    }
  }

  test("every TVF: wrong arity and a column reference fail with the " +
    "function's own message; int rejects 2.5") {
    withExtSession { spark =>
      val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.tableFunctionRegistry
      decls.foreach { f =>
        val n = f.argNames.size
        val arity = intercept[Exception] {
          spark.sql(s"SELECT * FROM ${f.name}(" +
            Seq.fill(n + 1)("'x'").mkString(", ") + ")").collect()
        }
        assert(messages(arity).contains(s"${f.name} expects $n arguments"),
          messages(arity))

        val ref = AttributeReference("c", StringType)()
        val lit = intercept[IllegalArgumentException] {
          reg.lookupFunction(FunctionIdentifier(f.name), Seq.fill(n)(ref))
        }
        val named = f.argNames.mkString("(", "|", ")")
        assert(lit.getMessage.matches(s"${f.name}: $named must be a " +
          "(non-null string|numeric) literal"), lit.getMessage)

        val half = new TvfArgs(f, Seq.fill(n)(Literal(2.5)))
        f.argNames.indices.foreach { i =>
          val e = intercept[IllegalArgumentException](half.int(i))
          assert(e.getMessage === s"${f.name}: ${f.argNames(i)} must be a " +
            "whole-number literal that fits an int, got 2.5")
        }
      }
    }
  }

  test("integer arguments are exact: no truncation, no saturation; " +
    "doubles unchanged") {
    val f = decls.find(_.name == "graft_topk_group").get
    def args(v: Any) = new TvfArgs(f, Seq.fill(5)(Literal(v)))
    assert(args(7).int(3) === 7)
    assert(args(BigDecimal("7.0")).int(3) === 7)
    assert(args(7.0).int(3) === 7)
    assert(args(Long.MaxValue).long(3) === Long.MaxValue)
    assert(args(1e10).long(3) === 10000000000L)
    assert(args(2.7).num(3) === 2.7)
    Seq[Any](2.7, 1e10, Double.NaN, Long.MaxValue).foreach { v =>
      val e = intercept[IllegalArgumentException](args(v).int(3))
      assert(e.getMessage.startsWith("graft_topk_group: k must be a " +
        "whole-number literal that fits an int"), e.getMessage)
    }
    intercept[IllegalArgumentException](args(0.5).long(3))
  }

  test("a fractional int literal fails in SQL instead of truncating") {
    withExtSession { spark =>
      import spark.implicits._
      Seq(("a", 1L, 1L), ("a", 2L, 2L)).toDF("g", "o", "tie")
        .createOrReplaceTempView("tvf_topk")
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM graft_topk_group(" +
          "'tvf_topk', 'g', 'o', 2.7, 'tie')").collect()
      }
      assert(messages(e).contains("graft_topk_group: k must be a " +
        "whole-number literal that fits an int, got 2.7"), messages(e))
      // a whole-number decimal is still a valid k
      assert(spark.sql("SELECT * FROM graft_topk_group(" +
        "'tvf_topk', 'g', 'o', 1.0, 'tie')").count() === 1L)
    }
  }

  test("graft_ccnet_buckets, graft_dsir_weights, graft_keep_best and " +
    "graft_vocab_growth compute what their builders compute") {
    withExtSession { spark =>
      import spark.implicits._
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta", "iota", "kappa")
      (1 to 24).map { i =>
        val text = (0 until 3 + i % 5).map(j => words((i * 7 + j * 3) % 10))
          .mkString(" ")
        // every fourth doc repeats doc i-1's word set with another score
        val t = if (i % 4 == 0) (0 until 3 + (i - 1) % 5)
          .map(j => words(((i - 1) * 7 + j * 3) % 10)).mkString(" ") else text
        (i.toLong, t, if (i % 3 == 0) "es" else "en", (i * 37 % 11).toDouble)
      }.toDF("doc_id", "text", "lang", "score")
        .createOrReplaceTempView("tvf_surface_docs")
      val docs = spark.table("tvf_surface_docs")

      val ccnet = spark.sql("SELECT * FROM graft_ccnet_buckets(" +
        "'tvf_surface_docs', 'doc_id', 'text', 'lang')")
      assert(ccnet.count() > 0)
      assert(rows(ccnet) === rows(graft.textanalysis.PerplexityBuckets
        .summary(docs, "doc_id", "text", "lang")))

      val dsir = spark.sql("SELECT * FROM graft_dsir_weights(" +
        "'tvf_surface_docs', 'doc_id', 'text', 'lang', 'es', 64)")
      assert(dsir.count() === 24L)
      assert(rows(dsir) === rows(graft.operators.Dsir.importanceWeights(
        docs, "doc_id", "text", col("lang") === "es", 64)))

      val best = spark.sql("SELECT * FROM graft_keep_best(" +
        "'tvf_surface_docs', 'doc_id', 'text', 'score')")
      assert(best.count() < 24L, "the fixture carries duplicates")
      assert(rows(best) === rows(graft.dedup.Dedup.exactKeepBest(
        docs, "doc_id", "text", col("score"))))

      val growth = spark.sql("SELECT * FROM graft_vocab_growth(" +
        "'tvf_surface_docs', 'doc_id', 'text', 'surface')")
      assert(growth.count() === graft.queries.Round15c.VocabPcts.size.toLong)
      assert(rows(growth) === rows(graft.textanalysis.TextAnalysis
        .vocabGrowth(docs, "doc_id", "text", "surface",
          graft.queries.Round15c.VocabPcts)))
    }
  }
}
