package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.similarity.Similarity
import graft.textanalysis.{NaiveBayes, TextAnalysis}

/** The RAG retrieval pipeline as ONE reusable builder — the chain the
  * `pipeline_rag` / `pipeline_rag_rerank` gates verify end-to-end and
  * the `graft_rag` table function exposes to SQL:
  *
  *   span-scrubbed corpus → BM25 + dense-cosine candidate lists →
  *   reciprocal-rank fusion → greedy context packing under a token
  *   budget (or → Naive-Bayes quality rerank).
  *
  * Scale shape: the corpus is touched exactly twice (the scrub+BM25
  * scan and the embedding scan); both candidate lists bound to `n`
  * rows via TakeOrderedAndProject before any window, fusion runs on
  * ≤ 2n rows, and packing/reranking on ≤ k. */
object Rag {

  /** Fused candidates packed greedily under `budget` tokens.
    * Output: (doc_id, rank_sparse, rank_dense, rrf, n_tok, cum_tokens)
    * ordered by fused score.
    *
    * `materialize` intercepts the span-scrubbed corpus, which BOTH the
    * BM25 list and the token-count join read: pass
    * `graft.operators.Checkpoints.pin(_)` to scrub once instead of once
    * per reader. The default identity keeps the plan fully declarative
    * — two invocations then build `sameResult` plans, which the
    * `graft_rag` TVF contract relies on. */
  def pack(docs: DataFrame, emb: DataFrame, queryVecId: Long,
           terms: Seq[String], n: Int, c: Int, k: Int,
           budget: Long,
           materialize: DataFrame => DataFrame = identity): DataFrame = {
    val cleaned = materialize(TextAnalysis.stripDuplicatedSpans(
      docs, "doc_id", "text", n = 8))
    Similarity.rrfFuse(sparseList(cleaned, terms, n),
        denseList(emb, queryVecId, n), "doc_id", c, k)
      .join(cleaned.select(col("doc_id"),
        TextAnalysis.tokenCount(col("clean_text")).cast("long")
          .as("n_tok")), Seq("doc_id"))
      .withColumn("cum_tokens", sum(col("n_tok"))
        .over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .where(col("cum_tokens") <= budget)
      .select("doc_id", "rank_sparse", "rank_dense", "rrf", "n_tok",
        "cum_tokens")
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** Fused candidates reranked by the corpus-trained NB quality
    * classifier (scoring touches ONLY the ≤ k candidates via a
    * broadcast semi join). Output: (doc_id, rrf, nb_score, nb_pred,
    * final_score) ordered by rrf·nb_score. */
  def rerank(docs: DataFrame, emb: DataFrame, queryVecId: Long,
             terms: Seq[String], n: Int, c: Int, k: Int,
             posLang: String, holdoutMod: Long,
             alpha: Double,
             materialize: DataFrame => DataFrame = identity): DataFrame = {
    val cleaned = TextAnalysis.stripDuplicatedSpans(
      docs, "doc_id", "text", n = 8)
    // the fused list feeds BOTH the candidate semi join and the final
    // score join: materialized it is <= k rows, unmaterialized the
    // whole retrieval subtree runs twice
    val fused = materialize(Similarity.rrfFuse(sparseList(cleaned, terms, n),
      denseList(emb, queryVecId, n), "doc_id", c, k))
    val model = NaiveBayes.train(
      docs.where(col("doc_id") % holdoutMod =!= 0), "text",
      col("lang") === posLang, alpha)
    val cand = docs.join(broadcast(fused.select("doc_id")),
      Seq("doc_id"), "left_semi")
    fused.join(NaiveBayes.score(model, cand, "doc_id", "text"),
        Seq("doc_id"))
      .withColumn("final_score",
        floor(col("rrf") * col("nb_score") * 1e6 + 0.5) / 1e6)
      .select("doc_id", "rrf", "nb_score", "nb_pred", "final_score")
      .orderBy(col("final_score").desc, col("doc_id"))
  }

  private def sparseList(cleaned: DataFrame, terms: Seq[String],
                         n: Int): DataFrame =
    Similarity.rankByScore(
      TextAnalysis.bm25(cleaned, "doc_id", "clean_text", terms),
      "doc_id", "bm25", n)

  private def denseList(emb: DataFrame, queryVecId: Long,
                        n: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qvec"))
    Similarity.rankByScore(
      Similarity.cosineToQuery(emb, "vec_id", "embedding", q, "qvec")
        .withColumn("sim", round(col("sim"), 4))
        .withColumnRenamed("vec_id", "doc_id"),
      "doc_id", "sim", n)
  }
}
