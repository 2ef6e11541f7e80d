package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import QueryDef._

/** Similarity search over the `embeddings` table (Array[Float], 64-dim).
  *
  * Brute-force cosine top-k is the verification baseline: broadcast the
  * (small) query set against the corpus — O(|Q|·N) with no shuffle of the
  * big side, and per-vector norms are precomputed once so each pair costs
  * a single dot product. All vector math is double-precision left-to-right
  * folds so DuckDB (list_dot_product) produces bit-identical results.
  * The 100 TB path replaces the pairwise scan with LSH sign-bucketing —
  * see graft.ops.VectorSearch.
  */
object EmbeddingOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** Codegen'd native dot product (graft.functions.DotProduct) — same
    * left-to-right double accumulation as DuckDB's list_dot_product. */
  private def dot(a: String, b: String): Column =
    graft.functions.GraftFunctions.dotProduct(col(a), col(b))

  /** vec_id, e (double vector), norm — computed once per vector. */
  private def vectors(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    emb(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("nrm", sqrt(dot("e", "e")))
  }

  private val vectorsSql =
    """SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings)""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-10 for a fixed query set -----------------
    sql("emb_knn_cosine",
      s"""WITH v AS (
        |$vectorsSql
        |), q AS (SELECT * FROM v WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |    list_dot_product(q.e, v.e) / (q.nrm * v.nrm) AS cosine
        |  FROM q JOIN v ON q.vec_id <> v.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""") { (s, dir) =>
      val v = vectors(s, dir)
      val q = v.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm")).filter(col("query_id") < 5)
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      v.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("cosine", dot("qe", "e") / (col("qnrm") * col("nrm")))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          row_number().over(w).as("rank"), round(col("cosine"), 6).as("cosine"))
        .filter(col("rank") <= 10)
        .orderBy("query_id", "rank")
    },

    // ---- per-label centroids (first 8 dims), elementwise mean ------------
    // Exact-decimal mean, not a raw double SUM: double summation is
    // order-dependent across engines, and at 100× volume (20k rows per
    // (label, pos) group) the ULP drift crossed the ROUND(., 4) edge —
    // caught by the past-fixture-scale oracle gate. The decimal sum is a
    // deterministic function of the float values on both sides (same
    // pattern as DerivedTables.exactMean). `+ 0`
    // normalizes IEEE negative zero, which ROUND can produce on both
    // engines but value-hashes differently from 0.0.
    sql("emb_label_centroids",
      """SELECT label, pos, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 4) + 0 AS centroid
        |FROM (
        |  SELECT label, unnest(embedding) AS x,
        |    unnest(range(1, len(embedding) + 1)) AS pos
        |  FROM embeddings)
        |WHERE pos <= 8
        |GROUP BY label, pos
        |ORDER BY label, pos""") { (s, dir) =>
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "x")))
        .withColumn("pos", col("pos0") + 1)
        .filter(col("pos") <= 8)
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          (round(sum(col("x").cast("double").cast("decimal(30,10)"))
            .cast("double") / count(lit(1)), 4) + lit(0.0)).as("centroid"))
        .orderBy("label", "pos")
    },

    // ---- embedding-cosine near-dup pairs, LSH-bucketed (production) ------
    // One equi-join on (tbl, bucket), exact verification — no corpus ×
    // corpus product (spec-asserted). Coarse 3-bit buckets × 12 tables
    // because the synthetic near-dups sit at cosine 0.45-0.6 where LSH
    // needs coarse bands (expected recall ≈ 0.98 there; 1.0 above 0.8).
    // emb_neardup_pairs below is the exact small-N twin; THIS oracle
    // verifies the approximate path itself — bucketing against the exact
    // hyperplane literals, candidate join, threshold verification.
    sql("emb_neardup_lsh", {
      val (tables, bits, dim, seed) = (12, 3, 64, 42L)
      def bucketExpr(t: Int): String =
        graft.ops.VectorSearch.hyperplanes(dim, bits, seed + t).zipWithIndex
          .map { case (p, i) =>
            val arr = p.map(_.toString).mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(e, $arr) >= 0 THEN ${1 << i} ELSE 0 END)"
          }.mkString("(", " + ", ")")
      val bucketCase = "CASE t.tbl " + (0 until tables)
        .map(t => s"WHEN $t THEN ${bucketExpr(t)}").mkString(" ") + " END"
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), vn AS (
        |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
        |), b AS (
        |  SELECT vec_id, CAST($bucketCase AS BIGINT) AS bucket, t.tbl
        |  FROM vn, (SELECT unnest(range($tables)) AS tbl) t
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
        |    AND a.vec_id < c.vec_id
        |)
        |SELECT cand.vec_a, cand.vec_b,
        |  ROUND(list_dot_product(av.e, bv.e) / (av.nrm * bv.nrm), 6) AS cosine
        |FROM cand JOIN vn av ON av.vec_id = cand.vec_a
        |          JOIN vn bv ON bv.vec_id = cand.vec_b
        |WHERE list_dot_product(av.e, bv.e) / (av.nrm * bv.nrm) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, dir) =>
      val v = vectors(s, dir).drop("nrm")
      graft.ops.VectorSearch.nearDupPairs(v, "vec_id", "e", dim = 64,
        threshold = 0.45, bits = 3, tables = 12)
        .select(col("vec_a"), col("vec_b"),
          round(col("cos_raw"), 6).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },

    // ---- density-based clustering: DBSCAN over LSH ε-neighborhoods -------
    // Ester et al., KDD 1996, with cosine ≥ 0.3 as "within ε" and minPts
    // 4: CORE = ≥ 3 neighbors (the paper counts the point itself),
    // clusters = connected components over core-core edges labeled min
    // member id, BORDER = non-core adopting its MINIMUM core neighbor's
    // label (scan-order-free, unlike the textbook), NOISE = the rest.
    // Neighborhoods come from the same bucketed candidate join as
    // emb_neardup_lsh (coarse 2-bit × 12 tables at this low threshold);
    // the oracle replays the buckets against the exact hyperplane
    // literals, then the closure as a recursive CTE — so cross-engine
    // equality covers candidates, degrees, roles AND labels.
    sql("emb_dbscan", {
      val (tables, bits, dim, seed) = (12, 2, 64, 42L)
      val (threshold, minPts) = (0.3, 4)
      def bucketExpr(t: Int): String =
        graft.ops.VectorSearch.hyperplanes(dim, bits, seed + t).zipWithIndex
          .map { case (p, i) =>
            val arr = p.map(_.toString).mkString("[", ",", "]")
            s"(CASE WHEN list_dot_product(e, $arr) >= 0 THEN ${1 << i} ELSE 0 END)"
          }.mkString("(", " + ", ")")
      val bucketCase = "CASE t.tbl " + (0 until tables)
        .map(t => s"WHEN $t THEN ${bucketExpr(t)}").mkString(" ") + " END"
      s"""WITH RECURSIVE v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), vn AS (
        |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
        |), b AS (
        |  SELECT vec_id, CAST($bucketCase AS BIGINT) AS bucket, t.tbl
        |  FROM vn, (SELECT unnest(range($tables)) AS tbl) t
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
        |    AND a.vec_id < c.vec_id
        |), pairs AS (
        |  SELECT cand.vec_a, cand.vec_b
        |  FROM cand JOIN vn av ON av.vec_id = cand.vec_a
        |            JOIN vn bv ON bv.vec_id = cand.vec_b
        |  WHERE list_dot_product(av.e, bv.e) / (av.nrm * bv.nrm) >= $threshold
        |), sym AS (
        |  SELECT vec_a AS id, vec_b AS nb FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs
        |), deg AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_neighbors
        |  FROM sym GROUP BY id
        |), core AS (
        |  SELECT id FROM deg WHERE n_neighbors >= ${minPts - 1}
        |), ce AS (
        |  SELECT s.id AS u, s.nb AS v FROM sym s
        |  JOIN core ca ON ca.id = s.id
        |  JOIN core cb ON cb.id = s.nb
        |), reach AS (
        |  SELECT id, id AS r FROM core
        |  UNION
        |  SELECT reach.id, e.v AS r FROM reach JOIN ce e ON e.u = reach.r
        |), comp AS (
        |  SELECT id, MIN(r) AS cluster FROM reach GROUP BY id
        |), bord AS (
        |  SELECT s.id, MIN(c.cluster) AS border_cluster
        |  FROM sym s JOIN comp c ON c.id = s.nb
        |  GROUP BY s.id
        |)
        |SELECT emb.vec_id,
        |  COALESCE(d.n_neighbors, CAST(0 AS BIGINT)) AS n_neighbors,
        |  CASE WHEN cm.cluster IS NOT NULL THEN 'core'
        |       WHEN bo.border_cluster IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(cm.cluster, bo.border_cluster) AS cluster
        |FROM (SELECT vec_id FROM embeddings) emb
        |LEFT JOIN deg d ON d.id = emb.vec_id
        |LEFT JOIN comp cm ON cm.id = emb.vec_id
        |LEFT JOIN bord bo ON bo.id = emb.vec_id
        |ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val v = vectors(s, dir).drop("nrm")
      graft.ops.VectorSearch.dbscanCosine(v, "vec_id", "e", dim = 64,
        threshold = 0.3, minPts = 4, bits = 2, tables = 12)
        .orderBy("vec_id")
    },

    // ---- embedding near-dup pairs, 100 TB regime: AUTO signature width ---
    // The plan a real job runs (and the one the 100× invariant audit
    // exercises): bits = 0 sizes the signature from the corpus count
    // (autoBits, bucketTarget 256) so bucket sizes — and the candidate
    // join volume — stay bounded as the corpus grows, where the fixture
    // regime above (fixed 3 bits) is output-quadratic by construction.
    // The oracle re-derives the SAME width from COUNT(*) and buckets
    // with the first `b` of 16 embedded hyperplane rows (the prefix is
    // exact: hyperplanes() fills rows sequentially from one seeded RNG —
    // the emb_ann_lsh_auto pattern). sf0.001/0.01/0.1 all derive the
    // 3-bit floor; the 10×/100× generated tables derive 7/10 bits.
    sql("emb_neardup_lsh_auto", {
      val (tables, maxBits, dim, target) = (6, 16, 64, 256)
      val seed = graft.ops.VectorSearch.DefaultSeed
      def bucketExpr(t: Int): String =
        graft.ops.VectorSearch.hyperplanes(dim, maxBits, seed + t).zipWithIndex
          .map { case (p, i) =>
            val arr = p.map(_.toString).mkString("[", ",", "]")
            s"(CASE WHEN $i < prm.b AND list_dot_product(e, $arr) >= 0 THEN ${1 << i} ELSE 0 END)"
          }.mkString("(", " + ", ")")
      val bucketCase = "CASE t.tbl " + (0 until tables)
        .map(t => s"WHEN $t THEN ${bucketExpr(t)}").mkString(" ") + " END"
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), prm AS (
        |  SELECT GREATEST(3, CASE WHEN x = 0 THEN 0 ELSE length(bin(x)) END) AS b
        |  FROM (SELECT CAST(COUNT(*) // $target AS BIGINT) AS x FROM v)
        |), vn AS (
        |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v
        |), bk AS (
        |  SELECT vec_id, CAST($bucketCase AS BIGINT) AS bucket, t.tbl
        |  FROM vn, (SELECT unnest(range($tables)) AS tbl) t, prm
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        |  FROM bk a JOIN bk c ON a.tbl = c.tbl AND a.bucket = c.bucket
        |    AND a.vec_id < c.vec_id
        |)
        |SELECT cand.vec_a, cand.vec_b,
        |  ROUND(list_dot_product(av.e, bv.e) / (av.nrm * bv.nrm), 6) AS cosine
        |FROM cand JOIN vn av ON av.vec_id = cand.vec_a
        |          JOIN vn bv ON bv.vec_id = cand.vec_b
        |WHERE list_dot_product(av.e, bv.e) / (av.nrm * bv.nrm) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, dir) =>
      val v = vectors(s, dir).drop("nrm")
      graft.ops.VectorSearch.nearDupPairs(v, "vec_id", "e", dim = 64,
        threshold = 0.45, bits = 0, tables = 6)
        .select(col("vec_a"), col("vec_b"),
          round(col("cos_raw"), 6).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },

    // ---- embedding-cosine near-duplicate pairs (exact oracle twin) -------
    sql("emb_neardup_pairs",
      s"""WITH v AS (
        |$vectorsSql
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45
        |ORDER BY vec_a, vec_b""") { (s, dir) =>
      // deliberate all-pairs: this is the exact VERIFICATION twin that
      // anchors the oracle; the production path is emb_neardup_lsh /
      // VectorSearch.nearDupPairs (bucketed, no product). Guarded: fail
      // fast rather than silently run O(N²) if the fixture ever scales.
      val v = vectors(s, dir)
      val nv = v.count()
      require(nv <= 100000L,
        s"emb_neardup_pairs is the all-pairs verification twin (bounded " +
          s"at 100000 vectors); got $nv — use emb_neardup_lsh at scale")
      val a = v.select(col("vec_id").as("vec_a"), col("e").as("ea"),
        col("nrm").as("na"))
      val b = v.select(col("vec_id").as("vec_b"), col("e").as("eb"),
        col("nrm").as("nb"))
      a.crossJoin(b)
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos_raw", dot("ea", "eb") / (col("na") * col("nb")))
        .filter(col("cos_raw") >= 0.45)
        .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 6).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },

    // ---- int8-quantized brute-force top-10 -------------------------------
    // The memory move that keeps a 100 TB ANN index resident: symmetric
    // per-vector int8 quantization (scale = max|x|/127), candidate scoring
    // via EXACT integer dot products (bit-deterministic — no float
    // accumulation order across engines/partitionings), rescaled to
    // cosine only for the final ranking. Recall@10 vs the float baseline
    // is 1.0 on this corpus (see VectorSearchSpec / COVERAGE.md).
    sql("emb_int8_knn",
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |           FROM embeddings),
        |qt AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
        |         list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0 AS scale
        |       FROM v),
        |qz AS (SELECT vec_id, nrm, scale,
        |         list_transform(e, x -> CASE WHEN scale = 0.0 THEN 0
        |                                     ELSE CAST(round(x / scale) AS INT) END) AS q
        |       FROM qt),
        |qs AS (SELECT vec_id AS query_id, q AS qq, scale AS qscale, nrm AS qnrm
        |       FROM qz WHERE vec_id < 5),
        |scored AS (
        |  SELECT query_id, c.vec_id AS neighbor_id,
        |    CAST(list_dot_product(list_transform(qq, x -> CAST(x AS DOUBLE)),
        |                          list_transform(c.q, x -> CAST(x AS DOUBLE))) AS BIGINT) AS dot_q,
        |    qscale, c.scale AS scale, qnrm, c.nrm AS nrm
        |  FROM qz c CROSS JOIN qs WHERE c.vec_id <> query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, dot_q,
        |    CAST(dot_q AS DOUBLE) * qscale * scale / (qnrm * nrm) AS qcos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY CAST(dot_q AS DOUBLE) * qscale * scale / (qnrm * nrm) DESC,
        |               neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, dot_q, ROUND(qcos_raw, 6) AS qcos
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""") { (s, dir) =>
      val v = vectors(s, dir)
      graft.ops.VectorSearch.quantizedTopK(
        v, v.filter(col("vec_id") < 5), idCol = "vec_id", vecCol = "e", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("dot_q"), round(col("qcos"), 6).as("qcos"))
        .orderBy("query_id", "rank")
    }
  )
}
