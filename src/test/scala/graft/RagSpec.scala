package graft

import org.apache.spark.sql.functions._

import graft.ops.Rag

/** RAG data path: stub embedding determinism and retrieval ranking. */
class RagSpec extends SparkSpec {

  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private val chunks = Seq(
    (1L, "storage server queue bytes rising durability lag"),
    (2L, "master recovery state reading coordinated state"),
    (3L, "ratekeeper throttling transaction rate limit")).toDF(
    "chunk_id", "chunk_content")

  test("embedStub: deterministic, dim-sized, partitioning-independent") {
    val idx1 = Rag.index(chunks).collect().sortBy(_.getLong(0))
    val idx2 = Rag.index(chunks.repartition(7)).collect().sortBy(_.getLong(0))
    assert(idx1.forall(_.getSeq[Double](2).length === 16))
    assert(idx1.map(_.getSeq[Double](2)).toSeq ===
      idx2.map(_.getSeq[Double](2)).toSeq)
  }

  test("retrieve: identical text ranks first with cosine 1") {
    val idx = Rag.index(chunks)
    val q = Seq((1L, "master recovery state reading coordinated state"))
      .toDF("query_id", "query_text")
    val top = Rag.retrieve(idx, q, k = 3).orderBy("rank").collect()
    assert(top.length === 3)
    assert(top.head.getAs[Long]("chunk_id") === 2L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    // ranks are dense 1..k
    assert(top.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
  }

  test("retrieve: query id colliding with a chunk id still sees that chunk") {
    val idx = Rag.index(chunks)
    val q = Seq((3L, "ratekeeper throttling transaction rate limit"))
      .toDF("query_id", "query_text")
    val top = Rag.retrieve(idx, q, k = 1).collect()
    assert(top.head.getAs[Long]("chunk_id") === 3L)
  }

  test("retrieve == driver-side exact cosine top-k, ties to the lower chunk_id") {
    // chunks 4 and 6 share their text, so their embeddings (and cosines
    // against any query) are bit-identical: query 1 repeats that text and
    // must rank both at cosine 1, chunk 4 first
    val six = Seq(
      (1L, "storage server queue bytes rising durability lag"),
      (2L, "master recovery state reading coordinated state"),
      (3L, "ratekeeper throttling transaction rate limit"),
      (4L, "tlog failure triggered recovery of the transaction system"),
      (5L, "commit proxy latency p99 above threshold"),
      (6L, "tlog failure triggered recovery of the transaction system"))
      .toDF("chunk_id", "chunk_content")
    val queries = Seq(
      (1L, "tlog failure triggered recovery of the transaction system"),
      (2L, "durability lag on storage server")).toDF("query_id", "query_text")
    val k = 3
    val idx = Rag.index(six)
    val got = Rag.retrieve(idx, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("chunk_id"), r.getAs[Double]("cosine")))
      .sortBy(r => (r._1, r._2))

    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val chunkVecs = idx.collect().map(r => r.getLong(0) -> r.getSeq[Double](2))
    val queryVecs = queries
      .select(col("query_id"), Rag.embedStub(col("query_text")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val want = queryVecs.sortBy(_._1).toSeq.flatMap { case (qid, qv) =>
      chunkVecs.toSeq
        .map { case (cid, cv) =>
          (cid, dot(qv, cv) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(cv, cv))))
        }
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(k).zipWithIndex
        .map { case ((cid, cos), i) => (qid, i + 1, cid, cos) }
    }
    assert(want(0)._4 == want(1)._4,
      "the reference must contain the planted cosine tie (query 1, ranks 1-2)")
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ===
      want.map(r => (r._1, r._2, r._3)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) <= 1e-12, s"cosine of $g vs reference $w")
    }
    assert(got.take(2).map(_._3).toSeq === Seq(4L, 6L))
  }
}
