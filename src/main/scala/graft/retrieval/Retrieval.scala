package graft.retrieval

import graft.Tables
import graft.embed.{CosineSimilarity, HashingEmbedder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's retrieval surface re-expressed relationally
  * (SURVEY.md §2.5): every retriever maps a query to a scored
  * DataFrame (doc_id, score, rank) — the `BaseRetriever.invoke ->
  * List[Document]` contract (reference core/retrieval/base.py:35-96)
  * with the list replaced by a lazily-composable frame, so fan-out,
  * fusion and rerank are plain unions/aggregates the optimizer can see.
  */
trait Retriever {
  def name: String
  /** Scored results, best first: (doc_id LONG, score DOUBLE). */
  def retrieve(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame
}

/** Sparse retrieval — BM25Okapi semantics via graft.ops.BM25Ops
  * (reference core/retrieval/bm25.py:276-317). */
final class Bm25Retriever extends Retriever {
  val name = "bm25"
  def retrieve(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    graft.ops.BM25Ops.topK(spark, sfDir,
      query.trim.split("\\s+").toSeq, k)
      .select(col("doc_id"), col("score").cast("double").as("score"))
}

/** Dense retrieval over the PRECOMPUTED embeddings table — the FAISS
  * search path (reference VectorStore_Faiss.py:225-274): the reference
  * embeds the corpus once at index-build time and amortizes it across
  * queries, so the per-query work is query-vector construction + scan.
  * Here the docstore is `Tables.embeddings` (vec_id ≡ doc_id in the
  * driver testdata), scored with the codegen'd cosine — the embedder
  * runs ONLY on the query string, never per-row over the corpus.
  * Scores are rounded to 6dp so every downstream consumer (multipath
  * ranks, RRF, the DuckDB oracle) orders the same values. */
final class DenseRetriever extends Retriever {
  val name = "dense"
  def retrieve(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"),
        round(CosineSimilarity(col("embedding"),
          typedLit(DenseRetriever.queryVec(query))), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }
}

object DenseRetriever {
  /** The query-vector constructor — the only place the embedder runs
    * on the read path. */
  def queryVec(query: String): Seq[Float] =
    HashingEmbedder.embed(query.toLowerCase).toSeq
}

object Retrieval {

  /** R4 score-threshold search: metric-specific relevance transform
    * then filter (reference VectorStoreBase.py:259-273):
    *  - cosine: rel = 1 - d where d = 1 - cos, i.e. rel = cos;
    *  - l2:     rel = 1 - dist / sqrt(2)
    *            (`_euclidean_relevance_score_fn`, :259-261);
    *  - ip:     rel = d > 0 ? 1 - d : -d with d the raw inner product
    *            (`_max_inner_product_relevance_score_fn`, :269-272 —
    *            the piecewise form ported verbatim, quirk included).
    * Distances computed with higher-order array functions (zip_with +
    * aggregate) — no UDF in the scoring path. */
  def thresholdSearch(spark: SparkSession, sfDir: String, queryVecId: Long,
      threshold: Double, metric: String = "cosine"): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") === queryVecId)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    def l2(a: Column, b: Column): Column =
      sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x))
    val rel = metric match {
      case "cosine" => CosineSimilarity(col("embedding"), col("qv"))
      case "l2" =>
        lit(1.0) - l2(col("embedding"), col("qv")) / math.sqrt(2.0)
      case "ip" =>
        val d = dot(col("embedding"), col("qv"))
        when(d > 0, lit(1.0) - d).otherwise(-d)
      case other => sys.error(s"unknown metric $other")
    }
    emb.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .select(col("vec_id"), rel.as("rel"))
      .filter(col("rel") >= threshold)
  }

  /** R6 multipath fan-out: run each retriever at `kPer`, tag with
    * retriever name + dense rank (reference mutipath.py:37-93). */
  def multipath(spark: SparkSession, sfDir: String, query: String,
      retrievers: Seq[Retriever] = Seq(new Bm25Retriever, new DenseRetriever),
      kPer: Int = 50): DataFrame = {
    retrievers.map { r =>
      r.retrieve(spark, sfDir, query, kPer)
        .withColumn("retriever", lit(r.name))
        .withColumn("rank", row_number().over(
          Window.partitionBy(lit(1)).orderBy(desc("score"), asc("doc_id"))))
        .select("retriever", "doc_id", "score", "rank")
    }.reduce(_.unionByName(_))
  }

  /** R7 reciprocal-rank fusion over the multipath output:
    * score = sum over lists of 1/(60 + rank), top-k
    * (reference core/utils/Fusion.py:35-76). */
  def rrf(fanout: DataFrame, k: Int = 20, kConst: Int = 60): DataFrame =
    fanout
      .groupBy("doc_id")
      .agg(sum(lit(1.0) / (lit(kConst) + col("rank"))).as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(desc("rrf_score"), asc("doc_id"))
      .limit(k)

  /** R8 rerank: the reference scores (query, doc) pairs with a
    * yes/no-token LLM probability in batches of 8
    * (Reranker_Qwen3.py:41-75). The scorer is a [[RerankScorer]]
    * plug-point — the Spark-side shape (mapPartitions with fixed-size
    * batches, then a global top-k sort) is model-independent; the
    * sandbox implementation is [[HashingCosineScorer]]. */
  def rerank(spark: SparkSession, sfDir: String, query: String,
      candidates: DataFrame, k: Int = 10, batchSize: Int = 8,
      scorer: RerankScorer = HashingCosineScorer): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    candidates.select("doc_id").join(docs, "doc_id")
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap(scorer.scoreBatch(query, _))
      }
      .toDF("doc_id", "rerank_score")
      .orderBy(desc("rerank_score"), asc("doc_id"))
      .limit(k)
  }
}

/** Pluggable (query, doc)-pair scorer for [[Retrieval.rerank]]: a
  * model-equipped deployment implements ONE method — score a fixed-size
  * batch of candidates against the query (the reference forwards 8
  * pairs per model call, Reranker_Qwen3.py:57,63) — without touching
  * the query code. Must be Serializable (ships in the mapPartitions
  * closure). */
trait RerankScorer extends Serializable {
  /** One model forward pass: a batch of (doc_id, text) in, one
    * (doc_id, score) per input out. */
  def scoreBatch(query: String, batch: Seq[(Long, String)]): Seq[(Long, Double)]
}

/** Sandbox [[RerankScorer]]: the LLM is outside the zero-egress
  * sandbox, so the hashing-embedder cosine stands in for the yes-token
  * probability — DETERMINISTIC STUB, clearly marked. */
object HashingCosineScorer extends RerankScorer {
  def scoreBatch(query: String, batch: Seq[(Long, String)]): Seq[(Long, Double)] = {
    val qv = HashingEmbedder.embed(query.toLowerCase)
    batch.map { case (id, text) =>
      (id, HashingEmbedder.cosine(qv, HashingEmbedder.embed(text.toLowerCase)))
    }
  }
}
