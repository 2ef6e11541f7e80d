package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Retrieval pipeline, data side: chunk text → embed → top-k retrieve.
  *
  * The reference ships chunks to a managed vector store and retrieves
  * through it (tools/rag/rag_client.py:74-107); the engine-side twin is
  * an embedding column plus an exact cosine top-k, so the whole index
  * lives in the tables the engine already manages.
  *
  * The embedder is STUBBED as a deterministic hash-projection column
  * expression (no model weights in this environment): each dimension is
  * a signed bucket of md5(dim-prefixed text). md5 — not xxhash64 —
  * because md5 exists verbatim in other engines, so the whole retrieval
  * pipeline stays cross-engine verifiable (DuckDB twin:
  * CAST('0x' || substr(md5(i || '|' || text), 1, 8) AS BIGINT)). It is
  * codegen'd, partitioning-independent, and shaped exactly like a real
  * encoder output; swap `embedStub` for an LlmBoundary-style batched
  * model call to productionize, nothing downstream changes.
  */
object Rag {

  /** Deterministic pseudo-embedding of `text`: dim signed components in
    * [-1, 1), each a hash bucket of the text salted by the dimension
    * index — component i = (first 4 md5 bytes of "i|text") % 1000 mapped
    * onto [-1, 1). */
  def embedStub(text: Column, dim: Int = 16): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (conv(substring(md5(concat_ws("|", i.cast("string"), text)), 1, 8),
        16, 10).cast("long") % 1000)
        .cast("double") / 500.0 - 1.0)

  /** Chunk frame → retrieval index: (chunk_id, chunk_content, embedding).
    * At scale this is written as a partitioned table; queries then probe
    * it without re-embedding the corpus. */
  def index(chunks: DataFrame, idCol: String = "chunk_id",
      textCol: String = "chunk_content", dim: Int = 16): DataFrame =
    chunks.select(col(idCol).as("chunk_id"),
      col(textCol).as("chunk_content"),
      embedStub(col(textCol), dim).as("embedding"))

  /** Top-k chunks for each query string, exact cosine (the query set
    * broadcasts). Returns (query_id, chunk_id, rank, cosine,
    * chunk_content). */
  def retrieve(idx: DataFrame, queries: DataFrame, k: Int = 10,
      dim: Int = 16): DataFrame = {
    // bruteForceCosine reads the query id from the corpus id column name
    val q = queries.select(col("query_id").as("chunk_id"),
      embedStub(col("query_text"), dim).as("embedding"))
    bruteForceCosine(
      idx.select(col("chunk_id"), col("embedding")), q,
      "chunk_id", "embedding", k)
      .withColumnRenamed("neighbor_id", "chunk_id")
      .join(idx.select(col("chunk_id"), col("chunk_content")), "chunk_id")
      .select("query_id", "chunk_id", "rank", "cosine", "chunk_content")
  }

  /** Exact brute-force cosine top-k (broadcast query set). A query id
    * that collides with a corpus id still sees that chunk: the query set
    * is external, so the ids are unrelated. */
  private def bruteForceCosine(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus
      .withColumn("nrm", sqrt(GraftFunctions.dotProduct(col(vecCol), col(vecCol))))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnrm", sqrt(GraftFunctions.dotProduct(col("qvec"), col("qvec"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("cosine",
        GraftFunctions.dotProduct(col("qvec"), col(vecCol)) /
          (col("qnrm") * col("nrm")))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
