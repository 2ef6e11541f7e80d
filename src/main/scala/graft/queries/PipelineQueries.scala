package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.ops.{TextAnalysis, VectorSearch}
import QueryDef._

/** Training-data pipeline surface: fingerprinting, token accounting,
  * SimHash near-dup candidates, language ID and LSH approximate NN. */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  val all: Seq[QueryDef] = Seq(

    // ---- rolling-hash fingerprints (codegen expression), full oracle -----
    sql("doc_fingerprints",
      """SELECT doc_id,
        |  CASE WHEN len(text) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(string_split(text, ''),
        |                               c -> CAST(unicode(c) AS BIGINT)),
        |                (a, b) -> (a*31 + b) % 1000000007) END AS fingerprint
        |FROM documents
        |WHERE doc_id < 200
        |ORDER BY doc_id""") { (s, dir) =>
      TextFunctions.register(s)
      docs(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TextFunctions.rollingHash(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // ---- BPE-ish token accounting per source, full oracle ----------------
    sql("doc_bpe_tokens",
      // NB: DuckDB single-quoted literals do not process backslash escapes
      // — the pattern goes in verbatim, exactly as Spark's regex sees it.
      s"""SELECT source,
        |  CAST(SUM(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}'))) AS BIGINT) AS total_bpeish_tokens,
        |  CAST(SUM(CAST(ceil(len(text) / 4.0) AS BIGINT)) AS BIGINT) AS total_estimate
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .groupBy("source")
        .agg(
          sum(TextAnalysis.bpeishTokenCount(col("text")).cast("long"))
            .as("total_bpeish_tokens"),
          sum(ceil(length(col("text")) / 4.0).cast("long"))
            .as("total_estimate"))
        .orderBy("source")
    },

    // ---- SimHash near-dup candidates (Hamming ≤ 3 of 32 bits) ------------
    // Signature pairs come from Dedup.simhashSigPairs — the byte-banded
    // equi-join (Hamming ≤3 ⇒ ≥1 of 4 bytes equal), no crossJoin of the
    // signature space (asserted by spec against the physical plan).
    // Full oracle: the entire SimHash (bigram features → first-4-md5-bytes
    // per-bit votes → majority sign) re-derived in DuckDB SQL, then the
    // same Hamming pairing — verifies signatures AND pairing end to end.
    sql("doc_simhash_pairs",
      """WITH tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), p -> p <> '') AS t
        |  FROM documents
        |), feats AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 2 THEN t
        |         ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END AS fs
        |  FROM tk
        |), fb AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(unnest(fs)), 1, 8) AS BIGINT) AS h
        |  FROM feats
        |), votes AS (
        |  SELECT doc_id, b.b AS bit,
        |    COUNT(*) FILTER ((h >> b.b) & 1 = 1) AS ones, COUNT(*) AS n
        |  FROM fb, (SELECT unnest(range(32)) AS b) b
        |  GROUP BY doc_id, b.b
        |), sigs0 AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(SUM(CASE WHEN 2*ones > n THEN 1::BIGINT << bit END), 0) AS BIGINT) AS sig
        |  FROM votes GROUP BY doc_id
        |), sigs AS (
        |  SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
        |  FROM documents d LEFT JOIN sigs0 s USING (doc_id)
        |), near AS (
        |  SELECT a.sig AS sig_a, b.sig AS sig_b,
        |    CAST(bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS INTEGER) AS hamming
        |  FROM (SELECT DISTINCT sig FROM sigs) a JOIN (SELECT DISTINCT sig FROM sigs) b
        |    ON a.sig <= b.sig
        |  WHERE bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) <= 3
        |)
        |SELECT DISTINCT least(da.doc_id, db.doc_id) AS doc_a,
        |  greatest(da.doc_id, db.doc_id) AS doc_b, n.hamming
        |FROM near n
        |JOIN sigs da ON da.sig = n.sig_a
        |JOIN sigs db ON db.sig = n.sig_b
        |WHERE da.doc_id <> db.doc_id
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      val sigs = docs(s, dir)
        .select(col("doc_id"), TextFunctions.simhash32(col("text")).as("sig"))
      val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      val nearSigs = graft.ops.Dedup.simhashSigPairs(sigs)
      // docs attach to either signature side — normalize pair orientation
      // with least/greatest so id order never fights signature order
      a.join(nearSigs, "sig_a").join(b, "sig_b")
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"),
          col("hamming"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    },

    // ---- language identification distribution, full oracle ---------------
    // The whole heuristic — CJK script-ratio routing, stopword-profile
    // scores with tripled special-character hits, (score, lang) max
    // tie-break — re-derived in DuckDB from LangId.Profiles itself, so the
    // oracle can't drift from the Scala table. (RE2's \p{Han}/Hiragana/
    // Katakana/L classes mirror Character.UnicodeScript for BMP text;
    // len() vs Java's UTF-16 .length only differs on astral chars, which
    // only matters inside the CJK ratio branch.)
    sql("doc_langid", {
      val structs = TextAnalysis.LangId.Profiles.toSeq.sortBy(_._1)
        .map { case (lang, (stops, chars)) =>
          val stopIn = stops.toSeq.sorted.map(w => s"'$w'").mkString(",")
          val hit = s"len(list_filter(toks, x -> x IN ($stopIn)))" +
            (if (chars.isEmpty) ""
             else s" + 3 * (len(text) - len(regexp_replace(text, '[$chars${chars.toUpperCase}]', '', 'g')))")
          s"{'s': $hit, 'l': '$lang'}"
        }.mkString("[", ", ", "]")
      s"""WITH base AS (
        |  SELECT text,
        |    len(regexp_extract_all(text, '\\p{Han}')) AS han,
        |    len(regexp_extract_all(text, '[\\p{Hiragana}\\p{Katakana}]')) AS kana,
        |    len(text) AS n,
        |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), x -> x <> '') AS toks
        |  FROM documents
        |), scored AS (
        |  SELECT CASE
        |    WHEN text IS NULL OR text = '' THEN 'unknown'
        |    WHEN kana > 0 AND (han + kana) * 4 >= n THEN 'ja'
        |    WHEN han * 4 >= n THEN 'zh'
        |    WHEN len(toks) = 0 THEN 'unknown'
        |    ELSE (CASE WHEN list_max($structs).s = 0 THEN 'unknown'
        |          ELSE list_max($structs).l END)
        |  END AS predicted_lang
        |  FROM base
        |)
        |SELECT predicted_lang, COUNT(*) AS n FROM scored
        |GROUP BY 1 ORDER BY 1"""
    }) { (s, dir) =>
      docs(s, dir)
        .withColumn("predicted_lang",
          TextAnalysis.detectLanguage(col("text")))
        .groupBy("predicted_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("predicted_lang")
    },

    // ---- quality-signal gate over the full corpus, full oracle -----------
    // The whole signal battery (token/punct/upper/stopword ratios + gate)
    // re-derived in DuckDB; means via exact decimal accumulation (see
    // DerivedTables.exactMean) so grouping order can't shift them.
    sql("doc_quality_gate", {
      def mean(v: String) =
        s"""CASE WHEN MAX(ABS($v)) < 1e18
           | THEN CAST(SUM(CASE WHEN ABS($v) < 1e18 THEN CAST($v AS DECIMAL(30,10)) END) AS DOUBLE) / COUNT($v)
           | ELSE AVG($v) END""".stripMargin
      s"""WITH toks AS (
        |  SELECT text, regexp_split_to_array(text, '\\s+') AS tk,
        |    len(text) AS nc
        |  FROM documents
        |), sig AS (
        |  SELECT len(tk) AS n_tokens,
        |    CAST(nc AS DOUBLE) / greatest(len(tk), 1) AS avg_token_len,
        |    CAST(nc - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / greatest(nc, 1) AS punct_ratio,
        |    CAST(nc - len(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / greatest(nc, 1) AS upper_ratio,
        |    CAST(len(list_filter(tk, x -> lower(x) IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |      / greatest(len(tk), 1) AS stopword_ratio
        |  FROM toks
        |), flagged AS (
        |  SELECT *, (n_tokens >= 20 AND avg_token_len BETWEEN 2 AND 12
        |             AND punct_ratio < 0.3 AND upper_ratio < 0.3) AS is_quality
        |  FROM sig
        |)
        |SELECT is_quality, COUNT(*) AS n_docs,
        |  ${mean("stopword_ratio")} AS avg_stopword_ratio,
        |  ${mean("punct_ratio")} AS avg_punct_ratio
        |FROM flagged
        |GROUP BY is_quality
        |ORDER BY is_quality"""
    }) { (s, dir) =>
      import graft.trace.DerivedTables.exactMean
      TextAnalysis.qualitySignals(docs(s, dir))
        .groupBy("is_quality")
        .agg(count(lit(1)).as("n_docs"),
          exactMean(col("stopword_ratio")).as("avg_stopword_ratio"),
          exactMean(col("punct_ratio")).as("avg_punct_ratio"))
        .orderBy("is_quality")
    },

    // ---- LSH approximate NN vs exact (the at-scale ANN path) -------------
    // Full oracle: the ENTIRE LSH pipeline — sign-bit bucketing against
    // the very hyperplanes Spark uses (embedded as exact round-trip
    // double literals from VectorSearch.hyperplanes), bucket-join
    // candidate generation, exact cosine re-rank — re-derived in DuckDB.
    // Sign parity holds because both engines fold the dot product
    // left-to-right over bit-identical doubles.
    sql("emb_ann_lsh", {
      val (tables, bits, dim, seed, k) = (8, 6, 64, 42L, 10)
      def bucketExpr(t: Int): String =
        VectorSearch.hyperplanes(dim, bits, seed + t).zipWithIndex
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
        |), q AS (SELECT * FROM b WHERE vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM b c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
        |    AND c.vec_id <> q.vec_id
        |), scored AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm) AS cosine
        |  FROM cand JOIN vn qv ON qv.vec_id = cand.query_id
        |            JOIN vn cv ON cv.vec_id = cand.neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= $k
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.annCosine(v, v.filter(col("vec_id") < 5), "vec_id", "e",
        dim = 64, k = 10, bits = 6, tables = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ---- IVF ANN: coarse-quantizer cells + nprobe re-rank, full oracle ---
    // The ENTIRE IVF pipeline re-derived in DuckDB: md5-ordered seed
    // sample, two Lloyd steps (assignment = lowest-cid argmax dot product,
    // exactly the strict-> fold tie-break; centroid update = exact
    // DECIMAL(38,18) mean per dimension), nprobe cell probing with the
    // same (dot desc, cid) order, exact cosine re-rank. Cross-engine
    // equality holds because every dot product folds left-to-right over
    // bit-identical doubles and every mean is an exact decimal sum.
    sql("emb_ann_ivf", {
      val (nCells, nprobe, k) = (16, 4, 10)
      // nearest-centroid assignment of frame `src(id, e, ...)` against
      // centroid frame `cf(cid, c)` — one row per vector, lowest cid wins
      // dot-product ties (the Scala fold's strict `>`)
      def assignSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, $cf.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |      ORDER BY list_dot_product(s.e, $cf.c) DESC, $cf.cid) AS rk
           |  FROM $src s CROSS JOIN $cf) WHERE rk = 1""".stripMargin
      def lloydSql(assigned: String): String =
        s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
           |  SELECT cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
           |  FROM (SELECT cid, unnest(e) AS x,
           |          unnest(range(1, len(e) + 1)) AS pos FROM $assigned)
           |  GROUP BY cid, pos) GROUP BY cid""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), c0 AS (
        |  SELECT cid, e AS c FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, e
        |    FROM v) WHERE cid < $nCells
        |), a0 AS (${assignSql("v", "c0")}),
        |c1 AS (${lloydSql("a0")}),
        |a1 AS (${assignSql("v", "c1")}),
        |c2 AS (${lloydSql("a1")}),
        |idx AS (
        |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm, cid
        |  FROM (${assignSql("v", "c2")})
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe,
        |    sqrt(list_dot_product(e, e)) AS qnrm
        |  FROM v WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, qe, qnrm, cid FROM (
        |    SELECT q.query_id, q.qe, q.qnrm, c2.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qe, c2.c) DESC, c2.cid) AS rk
        |    FROM q CROSS JOIN c2) WHERE rk <= $nprobe
        |), scored AS (
        |  SELECT p.query_id, i.vec_id AS neighbor_id,
        |    list_dot_product(p.qe, i.e) / (p.qnrm * i.nrm) AS cosine
        |  FROM probe p JOIN idx i USING (cid)
        |  WHERE i.vec_id <> p.query_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= $k
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.ivfCosine(v, v.filter(col("vec_id") < 5), "vec_id", "e",
        k = 10, nCells = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ---- product quantization ADC top-k (Jégou et al., TPAMI 2011) -------
    // The vector splits into m=4 subspaces of 16 dims; each gets its own
    // deterministic k-means codebook (md5-seeded init, exact-decimal Lloyd
    // means — the emb_ann_ivf recipe PER SUBSPACE, re-derived keyed by
    // `sub` below). The persisted index is m code bytes a vector (64×
    // smaller than float32 at dim 64); search is asymmetric distance
    // computation — each query builds m integer LUTs once, scoring a
    // corpus vector is m lookups + an integer sum. Every LUT entry and
    // reconstruction norm is micro-rounded BEFORE summation, so the sums
    // are order-free BIGINTs and the ranking doubles are bit-identical in
    // both engines (no float accumulation order anywhere past the
    // already-decimal-exact centroids).
    sql("emb_ann_pq", {
      val (m, k, topK, dsub) = (4, 16, 10, 16)
      // keyed-by-subspace nearest-sub-centroid assignment: src(vec_id,
      // sub, se) × cf(sub, cid, c), lowest cid wins dot ties
      def assignSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, f.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
           |      ORDER BY list_dot_product(s.se, f.c) DESC, f.cid) AS rk
           |  FROM $src s JOIN $cf f ON s.sub = f.sub) WHERE rk = 1""".stripMargin
      def lloydSql(assigned: String): String =
        s"""SELECT sub, cid, list(mm ORDER BY pos) AS c FROM (
           |  SELECT sub, cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mm
           |  FROM (SELECT sub, cid, unnest(se) AS x,
           |          unnest(range(1, len(se) + 1)) AS pos FROM $assigned)
           |  GROUP BY sub, cid, pos) GROUP BY sub, cid""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), sv AS (
        |  SELECT vec_id, sub,
        |    list_slice(e, sub * $dsub + 1, sub * $dsub + $dsub) AS se
        |  FROM v CROSS JOIN (SELECT unnest(range($m)) AS sub)
        |), c0 AS (
        |  SELECT sub, cid, se AS c FROM (
        |    SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub
        |      ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, se
        |    FROM sv) WHERE cid < $k
        |), a0 AS (${assignSql("sv", "c0")}),
        |c1 AS (${lloydSql("a0")}),
        |a1 AS (${assignSql("sv", "c1")}),
        |c2 AS (${lloydSql("a1")}),
        |af AS (${assignSql("sv", "c2")}),
        |cn AS (
        |  SELECT sub, cid,
        |    CAST(ROUND(1e6 * list_dot_product(c, c)) AS BIGINT) AS n2
        |  FROM c2
        |), rn AS (
        |  SELECT a.vec_id, CAST(SUM(n.n2) AS BIGINT) AS recon_n2_fp
        |  FROM af a JOIN cn n ON a.sub = n.sub AND a.cid = n.cid
        |  GROUP BY a.vec_id
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe,
        |    sqrt(list_dot_product(e, e)) AS qnrm
        |  FROM v WHERE vec_id < 5
        |), lut AS (
        |  SELECT q.query_id, f.sub, f.cid,
        |    CAST(ROUND(1e6 * list_dot_product(
        |      list_slice(q.qe, f.sub * $dsub + 1, f.sub * $dsub + $dsub),
        |      f.c)) AS BIGINT) AS d
        |  FROM q CROSS JOIN c2 f
        |), scored AS (
        |  SELECT l.query_id, a.vec_id AS neighbor_id,
        |    CAST(SUM(l.d) AS BIGINT) AS adc_fp
        |  FROM af a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
        |  WHERE a.vec_id <> l.query_id
        |  GROUP BY l.query_id, a.vec_id
        |), ranked AS (
        |  SELECT s.query_id, s.neighbor_id, s.adc_fp,
        |    CAST(s.adc_fp AS DOUBLE) / 1e6
        |      / (q.qnrm * sqrt(CAST(r.recon_n2_fp AS DOUBLE) / 1e6)) AS ac,
        |    ROW_NUMBER() OVER (PARTITION BY s.query_id
        |      ORDER BY CAST(s.adc_fp AS DOUBLE) / 1e6
        |        / (q.qnrm * sqrt(CAST(r.recon_n2_fp AS DOUBLE) / 1e6)) DESC,
        |        s.neighbor_id) AS rank
        |  FROM scored s
        |  JOIN rn r ON s.neighbor_id = r.vec_id
        |  JOIN q ON s.query_id = q.query_id
        |)
        |SELECT query_id, neighbor_id, rank, adc_fp,
        |  ROUND(ac, 6) AS adc_cosine
        |FROM ranked WHERE rank <= $topK
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.pqTopK(v, v.filter(col("vec_id") < 5), "vec_id", "e",
        dim = 64, m = 4, k = 16, iters = 2, topK = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("adc_fp"), round(col("adc_cosine"), 6).as("adc_cosine"))
        .orderBy("query_id", "rank")
    },

    // ---- IVF + PQ: cell-pruned candidates, byte-code ADC scoring ----------
    // The IVFADC architecture (Jégou et al. 2011 §V) minus the residual
    // step: the emb_ann_ivf coarse quantizer routes each query to 4 cells
    // (candidates by EQUI-JOIN on cid — probe-bounded scan work), and
    // scoring is emb_ann_pq's integer-LUT ADC over m=4 code bytes. The
    // oracle re-derives BOTH trainings — the full-vector coarse k-means
    // and the keyed-by-subspace PQ codebooks — from the same md5 seeds.
    sql("emb_ann_ivfpq", {
      val (nCells, nprobe, m, k, topK, dsub) = (16, 4, 4, 16, 10, 16)
      def assignVecSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, $cf.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |      ORDER BY list_dot_product(s.e, $cf.c) DESC, $cf.cid) AS rk
           |  FROM $src s CROSS JOIN $cf) WHERE rk = 1""".stripMargin
      def lloydVecSql(assigned: String): String =
        s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
           |  SELECT cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
           |  FROM (SELECT cid, unnest(e) AS x,
           |          unnest(range(1, len(e) + 1)) AS pos FROM $assigned)
           |  GROUP BY cid, pos) GROUP BY cid""".stripMargin
      def assignSubSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, f.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
           |      ORDER BY list_dot_product(s.se, f.c) DESC, f.cid) AS rk
           |  FROM $src s JOIN $cf f ON s.sub = f.sub) WHERE rk = 1""".stripMargin
      def lloydSubSql(assigned: String): String =
        s"""SELECT sub, cid, list(mm ORDER BY pos) AS c FROM (
           |  SELECT sub, cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mm
           |  FROM (SELECT sub, cid, unnest(se) AS x,
           |          unnest(range(1, len(se) + 1)) AS pos FROM $assigned)
           |  GROUP BY sub, cid, pos) GROUP BY sub, cid""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), k0 AS (
        |  SELECT cid, e AS c FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, e
        |    FROM v) WHERE cid < $nCells
        |), ka0 AS (${assignVecSql("v", "k0")}),
        |k1 AS (${lloydVecSql("ka0")}),
        |ka1 AS (${assignVecSql("v", "k1")}),
        |k2 AS (${lloydVecSql("ka1")}),
        |kaf AS (SELECT vec_id, cid FROM (${assignVecSql("v", "k2")})),
        |sv AS (
        |  SELECT vec_id, sub,
        |    list_slice(e, sub * $dsub + 1, sub * $dsub + $dsub) AS se
        |  FROM v CROSS JOIN (SELECT unnest(range($m)) AS sub)
        |), c0 AS (
        |  SELECT sub, cid, se AS c FROM (
        |    SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub
        |      ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, se
        |    FROM sv) WHERE cid < $k
        |), a0 AS (${assignSubSql("sv", "c0")}),
        |c1 AS (${lloydSubSql("a0")}),
        |a1 AS (${assignSubSql("sv", "c1")}),
        |c2 AS (${lloydSubSql("a1")}),
        |af AS (${assignSubSql("sv", "c2")}),
        |cn AS (
        |  SELECT sub, cid,
        |    CAST(ROUND(1e6 * list_dot_product(c, c)) AS BIGINT) AS n2
        |  FROM c2
        |), rn AS (
        |  SELECT a.vec_id, CAST(SUM(n.n2) AS BIGINT) AS recon_n2_fp
        |  FROM af a JOIN cn n ON a.sub = n.sub AND a.cid = n.cid
        |  GROUP BY a.vec_id
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe,
        |    sqrt(list_dot_product(e, e)) AS qnrm
        |  FROM v WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, cid FROM (
        |    SELECT q.query_id, k2.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qe, k2.c) DESC, k2.cid) AS rk
        |    FROM q CROSS JOIN k2) WHERE rk <= $nprobe
        |), lut AS (
        |  SELECT q.query_id, f.sub, f.cid,
        |    CAST(ROUND(1e6 * list_dot_product(
        |      list_slice(q.qe, f.sub * $dsub + 1, f.sub * $dsub + $dsub),
        |      f.c)) AS BIGINT) AS d
        |  FROM q CROSS JOIN c2 f
        |), cand AS (
        |  SELECT p.query_id, i.vec_id
        |  FROM probe p JOIN kaf i USING (cid)
        |  WHERE i.vec_id <> p.query_id
        |), scored AS (
        |  SELECT c.query_id, c.vec_id AS neighbor_id,
        |    CAST(SUM(l.d) AS BIGINT) AS adc_fp
        |  FROM cand c
        |  JOIN af a ON a.vec_id = c.vec_id
        |  JOIN lut l ON l.query_id = c.query_id
        |    AND l.sub = a.sub AND l.cid = a.cid
        |  GROUP BY c.query_id, c.vec_id
        |), ranked AS (
        |  SELECT s.query_id, s.neighbor_id, s.adc_fp,
        |    CAST(s.adc_fp AS DOUBLE) / 1e6
        |      / (q.qnrm * sqrt(CAST(r.recon_n2_fp AS DOUBLE) / 1e6)) AS ac,
        |    ROW_NUMBER() OVER (PARTITION BY s.query_id
        |      ORDER BY CAST(s.adc_fp AS DOUBLE) / 1e6
        |        / (q.qnrm * sqrt(CAST(r.recon_n2_fp AS DOUBLE) / 1e6)) DESC,
        |        s.neighbor_id) AS rank
        |  FROM scored s
        |  JOIN rn r ON s.neighbor_id = r.vec_id
        |  JOIN q ON s.query_id = q.query_id
        |)
        |SELECT query_id, neighbor_id, rank, adc_fp,
        |  ROUND(ac, 6) AS adc_cosine
        |FROM ranked WHERE rank <= $topK
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.ivfPqTopK(v, v.filter(col("vec_id") < 5), "vec_id", "e",
        dim = 64, nCells = 16, nprobe = 4, m = 4, k = 16, iters = 2,
        topK = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("adc_fp"), round(col("adc_cosine"), 6).as("adc_cosine"))
        .orderBy("query_id", "rank")
    },

    // ---- IVFADC complete: residual encoding (Jégou et al. 2011 §V) --------
    // emb_ann_ivfpq with the residual step: codes quantize r = x − c(cell)
    // so the sub-codebooks resolve the residual distribution instead of
    // the whole space. The cosine-to-reconstruction score decomposes
    // exactly — dot(q, c + r̂) = dot(q, c) + Σ lut[code] (LUTs still on
    // the RAW query, one set per query; the per-probe extra is a single
    // micro dot(q, c)) and |c + r̂|² = |c|² + Σ (2·dot(c_sub, cw) + |cw|²)
    // (a per-(cell, sub, code) integer constant table). Every term is
    // micro-rounded before order-free BIGINT sums, so the oracle — which
    // re-derives the coarse k-means, the residuals, AND the
    // residual-trained sub-codebooks from the same md5 seeds — ranks
    // bit-identically.
    sql("emb_ann_ivfpq_res", {
      val (nCells, nprobe, m, k, topK, dsub, dim) = (16, 4, 4, 16, 10, 16, 64)
      def assignVecSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, $cf.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |      ORDER BY list_dot_product(s.e, $cf.c) DESC, $cf.cid) AS rk
           |  FROM $src s CROSS JOIN $cf) WHERE rk = 1""".stripMargin
      def lloydVecSql(assigned: String): String =
        s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
           |  SELECT cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
           |  FROM (SELECT cid, unnest(e) AS x,
           |          unnest(range(1, len(e) + 1)) AS pos FROM $assigned)
           |  GROUP BY cid, pos) GROUP BY cid""".stripMargin
      def assignSubSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, f.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
           |      ORDER BY list_dot_product(s.se, f.c) DESC, f.cid) AS rk
           |  FROM $src s JOIN $cf f ON s.sub = f.sub) WHERE rk = 1""".stripMargin
      def lloydSubSql(assigned: String): String =
        s"""SELECT sub, cid, list(mm ORDER BY pos) AS c FROM (
           |  SELECT sub, cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS mm
           |  FROM (SELECT sub, cid, unnest(se) AS x,
           |          unnest(range(1, len(se) + 1)) AS pos FROM $assigned)
           |  GROUP BY sub, cid, pos) GROUP BY sub, cid""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), k0 AS (
        |  SELECT cid, e AS c FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, e
        |    FROM v) WHERE cid < $nCells
        |), ka0 AS (${assignVecSql("v", "k0")}),
        |k1 AS (${lloydVecSql("ka0")}),
        |ka1 AS (${assignVecSql("v", "k1")}),
        |k2 AS (${lloydVecSql("ka1")}),
        |kaf AS (SELECT vec_id, cid FROM (${assignVecSql("v", "k2")})),
        |rv AS (
        |  SELECT v.vec_id,
        |    list_transform(range(1, ${dim + 1}), j -> v.e[j] - k2.c[j]) AS e
        |  FROM v JOIN kaf USING (vec_id) JOIN k2 USING (cid)
        |), sv AS (
        |  SELECT vec_id, sub,
        |    list_slice(e, sub * $dsub + 1, sub * $dsub + $dsub) AS se
        |  FROM rv CROSS JOIN (SELECT unnest(range($m)) AS sub)
        |), c0 AS (
        |  SELECT sub, cid, se AS c FROM (
        |    SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub
        |      ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, se
        |    FROM sv) WHERE cid < $k
        |), a0 AS (${assignSubSql("sv", "c0")}),
        |c1 AS (${lloydSubSql("a0")}),
        |a1 AS (${assignSubSql("sv", "c1")}),
        |c2 AS (${lloydSubSql("a1")}),
        |af AS (${assignSubSql("sv", "c2")}),
        |cb AS (
        |  SELECT cid, CAST(ROUND(1e6 * list_dot_product(c, c)) AS BIGINT) AS b
        |  FROM k2
        |), ct AS (
        |  SELECT k2.cid AS cell, c2.sub AS sub, c2.cid AS code,
        |    CAST(ROUND(1e6 * (2 * list_dot_product(
        |      list_slice(k2.c, c2.sub * $dsub + 1, c2.sub * $dsub + $dsub),
        |      c2.c) + list_dot_product(c2.c, c2.c))) AS BIGINT) AS t
        |  FROM k2 CROSS JOIN c2
        |), rn AS (
        |  SELECT a.vec_id, CAST(cb.b + SUM(ct.t) AS BIGINT) AS recon_n2_fp
        |  FROM af a
        |  JOIN kaf ON kaf.vec_id = a.vec_id
        |  JOIN cb ON cb.cid = kaf.cid
        |  JOIN ct ON ct.cell = kaf.cid AND ct.sub = a.sub AND ct.code = a.cid
        |  GROUP BY a.vec_id, cb.b
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe,
        |    sqrt(list_dot_product(e, e)) AS qnrm
        |  FROM v WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, cid FROM (
        |    SELECT q.query_id, k2.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qe, k2.c) DESC, k2.cid) AS rk
        |    FROM q CROSS JOIN k2) WHERE rk <= $nprobe
        |), lut AS (
        |  SELECT q.query_id, f.sub, f.cid,
        |    CAST(ROUND(1e6 * list_dot_product(
        |      list_slice(q.qe, f.sub * $dsub + 1, f.sub * $dsub + $dsub),
        |      f.c)) AS BIGINT) AS d
        |  FROM q CROSS JOIN c2 f
        |), qc AS (
        |  SELECT p.query_id, p.cid,
        |    CAST(ROUND(1e6 * list_dot_product(q.qe, k2.c)) AS BIGINT) AS qc
        |  FROM probe p JOIN q USING (query_id) JOIN k2 USING (cid)
        |), cand AS (
        |  SELECT p.query_id, p.cid, i.vec_id
        |  FROM probe p JOIN kaf i USING (cid)
        |  WHERE i.vec_id <> p.query_id
        |), scored AS (
        |  SELECT c.query_id, c.vec_id AS neighbor_id,
        |    CAST(qc.qc + SUM(l.d) AS BIGINT) AS adc_fp
        |  FROM cand c
        |  JOIN af a ON a.vec_id = c.vec_id
        |  JOIN lut l ON l.query_id = c.query_id
        |    AND l.sub = a.sub AND l.cid = a.cid
        |  JOIN qc ON qc.query_id = c.query_id AND qc.cid = c.cid
        |  GROUP BY c.query_id, c.vec_id, qc.qc
        |), ranked AS (
        |  SELECT s.query_id, s.neighbor_id, s.adc_fp,
        |    CAST(s.adc_fp AS DOUBLE) / 1e6
        |      / (q.qnrm * sqrt(CAST(r.recon_n2_fp AS DOUBLE) / 1e6)) AS ac,
        |    ROW_NUMBER() OVER (PARTITION BY s.query_id
        |      ORDER BY CAST(s.adc_fp AS DOUBLE) / 1e6
        |        / (q.qnrm * sqrt(CAST(r.recon_n2_fp AS DOUBLE) / 1e6)) DESC,
        |        s.neighbor_id) AS rank
        |  FROM scored s
        |  JOIN rn r ON s.neighbor_id = r.vec_id
        |  JOIN q ON s.query_id = q.query_id
        |)
        |SELECT query_id, neighbor_id, rank, adc_fp,
        |  ROUND(ac, 6) AS adc_cosine
        |FROM ranked WHERE rank <= $topK
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.ivfPqResTopK(v, v.filter(col("vec_id") < 5), "vec_id",
        "e", dim = 64, nCells = 16, nprobe = 4, m = 4, k = 16, iters = 2,
        topK = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("adc_fp"), round(col("adc_cosine"), 6).as("adc_cosine"))
        .orderBy("query_id", "rank")
    },

    // ---- k-means cluster composition report ------------------------------
    // The IVF coarse quantizer exposed as a clustering operator: every
    // vector assigned to its deterministic-k-means cell (md5-seeded init,
    // 2 exact-decimal Lloyd steps — the emb_ann_ivf recipe, fully
    // re-derived below), then a per-cluster composition audit: size,
    // distinct labels, majority label + share. Both aggregations are
    // map-side-combinable (argmax = max(struct(cnt, -label)), no
    // per-cluster window), so cluster skew cannot straggle a task.
    sql("emb_kmeans_stats", {
      val nCells = 16
      def assignSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, $cf.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |      ORDER BY list_dot_product(s.e, $cf.c) DESC, $cf.cid) AS rk
           |  FROM $src s CROSS JOIN $cf) WHERE rk = 1""".stripMargin
      def lloydSql(assigned: String): String =
        s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
           |  SELECT cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
           |  FROM (SELECT cid, unnest(e) AS x,
           |          unnest(range(1, len(e) + 1)) AS pos FROM $assigned)
           |  GROUP BY cid, pos) GROUP BY cid""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), c0 AS (
        |  SELECT cid, e AS c FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, e
        |    FROM v) WHERE cid < $nCells
        |), a0 AS (${assignSql("v", "c0")}),
        |c1 AS (${lloydSql("a0")}),
        |a1 AS (${assignSql("v", "c1")}),
        |c2 AS (${lloydSql("a1")}),
        |af AS (${assignSql("v", "c2")}),
        |cl AS (
        |  SELECT cid, label, COUNT(*) AS cnt FROM af GROUP BY cid, label
        |), top AS (
        |  SELECT cid, label AS top_label, cnt AS top_label_cnt FROM (
        |    SELECT cid, label, cnt,
        |      ROW_NUMBER() OVER (PARTITION BY cid
        |        ORDER BY cnt DESC, label) AS rk
        |    FROM cl) WHERE rk = 1
        |)
        |SELECT c.cid, CAST(SUM(c.cnt) AS BIGINT) AS n_vectors,
        |  CAST(COUNT(*) AS BIGINT) AS n_labels,
        |  t.top_label, t.top_label_cnt,
        |  ROUND(CAST(t.top_label_cnt AS DOUBLE)
        |    / CAST(SUM(c.cnt) AS DOUBLE), 6) AS label_share
        |FROM cl c JOIN top t USING (cid)
        |GROUP BY c.cid, t.top_label, t.top_label_cnt
        |ORDER BY cid""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.clusterStats(v, "vec_id", "e", "label", k = 16)
        .orderBy("cid")
    },

    // ---- SemDeDup: semantic dedup inside k-means cells --------------------
    // Abbas et al. 2023 (arXiv:2303.09540): cluster the embeddings with
    // the deterministic k-means quantizer, compare pairs ONLY within a
    // cluster, drop every vector with a lower-id cluster-mate at cosine
    // ≥ 0.45 (the fixture's near-dup regime). Pairwise work is an
    // equi-join on cid — Σ|cluster|², never N² — and cells ≈ √N
    // (autoCells + trainCap, the emb_ann_ivf_auto recipe re-derived
    // below), so per-cluster pair volume grows ~√N with the corpus.
    // Cross-cluster near-dups are invisible BY DESIGN (the paper's
    // recall trade); emb_neardup_lsh is the pair-complete path.
    // ORACLE EXACTNESS: this DuckDB twin computes the exact all-pairs
    // within-cell rule — and so does the Spark operator on every corpus
    // this oracle can run on, because the tier-2 quantized collapse (the
    // mass-near-duplication guard, one-sided over-keep inside its
    // quantization margin) only engages when a cell holds more than
    // SemDedupTier2CellBound tier-1 reps. A balanced autoCells corpus
    // stays under the bound at any verifiable scale, so both engines
    // compute the same function by construction, not by fixture luck.
    sql("emb_semdedup", {
      val threshold = 0.45
      val trainCap = graft.ops.VectorSearch.DefaultTrainCap
      def assignSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, $cf.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |      ORDER BY list_dot_product(s.e, $cf.c) DESC, $cf.cid) AS rk
           |  FROM $src s CROSS JOIN $cf) WHERE rk = 1""".stripMargin
      def lloydSql(assigned: String): String =
        s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
           |  SELECT cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
           |  FROM (SELECT cid, unnest(e) AS x,
           |          unnest(range(1, len(e) + 1)) AS pos FROM $assigned)
           |  GROUP BY cid, pos) GROUP BY cid""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), prm AS (
        |  SELECT LEAST(4096, GREATEST(16,
        |    CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS cells
        |  FROM v
        |), c0 AS (
        |  SELECT cid, e AS c FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, e
        |    FROM v) WHERE cid < (SELECT cells FROM prm)
        |), tr AS (
        |  SELECT vec_id, e FROM (
        |    SELECT vec_id, e,
        |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS trk
        |    FROM v) WHERE trk <= $trainCap
        |), a0 AS (${assignSql("tr", "c0")}),
        |c1 AS (${lloydSql("a0")}),
        |a1 AS (${assignSql("tr", "c1")}),
        |c2 AS (${lloydSql("a1")}),
        |an AS (
        |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm, cid
        |  FROM (${assignSql("v", "c2")})
        |), d AS (
        |  SELECT DISTINCT hi.vec_id
        |  FROM an hi JOIN an lo ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
        |  WHERE list_dot_product(hi.e, lo.e) / (hi.nrm * lo.nrm) >= $threshold
        |)
        |SELECT an.vec_id, an.cid,
        |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        |FROM an LEFT JOIN d USING (vec_id)
        |ORDER BY an.vec_id""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.semDedup(v, "vec_id", "e", threshold = 0.45)
        .orderBy("vec_id")
    },

    // ---- IVF ANN, 100 TB regime: cells ≈ √N + native NearestCells --------
    // The auto mode (nCells = 0) is the scale path: cell count grows as
    // √corpus so per-query candidate volume stays ~√N, and past 32 cells
    // the assignment/probing switches from the folded-literal expression
    // to the native NearestCells codegen loop. The oracle derives the
    // SAME cell count from COUNT(*) (LEAST(4096, GREATEST(16,
    // ceil(sqrt(N))))), so at sf0.1 (2000 vectors → 45 cells) the DRIVER
    // hash-verifies the native expression path, while sf0.001/0.01
    // (500 → 23 cells) verify the literal path — both against the full
    // Lloyd re-derivation in DuckDB.
    sql("emb_ann_ivf_auto", {
      val (nprobe, k) = (VectorSearch.AutoNprobe, 10)
      val trainCap = VectorSearch.DefaultTrainCap
      def assignSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, $cf.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |      ORDER BY list_dot_product(s.e, $cf.c) DESC, $cf.cid) AS rk
           |  FROM $src s CROSS JOIN $cf) WHERE rk = 1""".stripMargin
      def lloydSql(assigned: String): String =
        s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
           |  SELECT cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
           |  FROM (SELECT cid, unnest(e) AS x,
           |          unnest(range(1, len(e) + 1)) AS pos FROM $assigned)
           |  GROUP BY cid, pos) GROUP BY cid""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), prm AS (
        |  SELECT LEAST(4096, GREATEST(16,
        |    CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS cells
        |  FROM v
        |), c0 AS (
        |  SELECT cid, e AS c FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, e
        |    FROM v) WHERE cid < (SELECT cells FROM prm)
        |), tr AS (
        |  -- Lloyd trains on the $trainCap smallest-md5 vectors, the SAME
        |  -- bounded sample VectorSearch.ivfCosine uses (trainCap) — only
        |  -- the final idx assignment scans the full corpus
        |  SELECT vec_id, e FROM (
        |    SELECT vec_id, e,
        |      ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS trk
        |    FROM v) WHERE trk <= $trainCap
        |), a0 AS (${assignSql("tr", "c0")}),
        |c1 AS (${lloydSql("a0")}),
        |a1 AS (${assignSql("tr", "c1")}),
        |c2 AS (${lloydSql("a1")}),
        |idx AS (
        |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm, cid
        |  FROM (${assignSql("v", "c2")})
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe,
        |    sqrt(list_dot_product(e, e)) AS qnrm
        |  FROM v WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, qe, qnrm, cid FROM (
        |    SELECT q.query_id, q.qe, q.qnrm, c2.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qe, c2.c) DESC, c2.cid) AS rk
        |    FROM q CROSS JOIN c2) WHERE rk <= $nprobe
        |), scored AS (
        |  SELECT p.query_id, i.vec_id AS neighbor_id,
        |    list_dot_product(p.qe, i.e) / (p.qnrm * i.nrm) AS cosine
        |  FROM probe p JOIN idx i USING (cid)
        |  WHERE i.vec_id <> p.query_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= $k
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.ivfCosine(v, v.filter(col("vec_id") < 5), "vec_id", "e",
        k = 10, nCells = 0, nprobe = VectorSearch.AutoNprobe)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // ---- IVF + int8: float coarse quantizer, int8 resident index ---------
    // The memory-bounded 100 TB shape: cells route queries exactly as
    // emb_ann_ivf (float centroids, same Lloyd derivation), but the
    // per-cell resident vectors are int8 (4× smaller index) and the
    // re-rank is exact integer dots rescaled to approximate cosine —
    // bit-deterministic scoring, so the oracle needs no float-sum
    // tolerance anywhere past the (already-decimal-exact) centroids.
    sql("emb_ivf_int8", {
      val (nCells, nprobe, k) = (16, 4, 10)
      def assignSql(src: String, cf: String): String =
        s"""SELECT * EXCLUDE (rk) FROM (
           |  SELECT s.*, $cf.cid AS cid,
           |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |      ORDER BY list_dot_product(s.e, $cf.c) DESC, $cf.cid) AS rk
           |  FROM $src s CROSS JOIN $cf) WHERE rk = 1""".stripMargin
      def lloydSql(assigned: String): String =
        s"""SELECT cid, list(m ORDER BY pos) AS c FROM (
           |  SELECT cid, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
           |  FROM (SELECT cid, unnest(e) AS x,
           |          unnest(range(1, len(e) + 1)) AS pos FROM $assigned)
           |  GROUP BY cid, pos) GROUP BY cid""".stripMargin
      val quantize =
        """list_transform(e, x -> CASE WHEN scale = 0.0 THEN 0
          |                            ELSE CAST(round(x / scale) AS INT) END)""".stripMargin
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |), c0 AS (
        |  SELECT cid, e AS c FROM (
        |    SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid, e
        |    FROM v) WHERE cid < $nCells
        |), a0 AS (${assignSql("v", "c0")}),
        |c1 AS (${lloydSql("a0")}),
        |a1 AS (${assignSql("v", "c1")}),
        |c2 AS (${lloydSql("a1")}),
        |idx AS (
        |  SELECT vec_id, cid, sqrt(list_dot_product(e, e)) AS nrm,
        |    scale, $quantize AS q
        |  FROM (SELECT *, list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0 AS scale
        |        FROM (${assignSql("v", "c2")}))
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe,
        |    sqrt(list_dot_product(e, e)) AS qnrm,
        |    scale AS qscale, $quantize AS qq
        |  FROM (SELECT *, list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0 AS scale
        |        FROM v)
        |  WHERE vec_id < 5
        |), probe AS (
        |  SELECT query_id, qq, qscale, qnrm, cid FROM (
        |    SELECT q.query_id, q.qq, q.qscale, q.qnrm, c2.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_dot_product(q.qe, c2.c) DESC, c2.cid) AS rk
        |    FROM q CROSS JOIN c2) WHERE rk <= $nprobe
        |), scored AS (
        |  SELECT query_id, neighbor_id, dot_q,
        |    CAST(dot_q AS DOUBLE) * qscale * scale / (qnrm * nrm) AS qcos_raw
        |  FROM (
        |    SELECT p.query_id, i.vec_id AS neighbor_id,
        |      CAST(list_dot_product(
        |        list_transform(p.qq, x -> CAST(x AS DOUBLE)),
        |        list_transform(i.q, x -> CAST(x AS DOUBLE))) AS BIGINT) AS dot_q,
        |      p.qscale, i.scale AS scale, p.qnrm, i.nrm AS nrm
        |    FROM probe p JOIN idx i USING (cid)
        |    WHERE i.vec_id <> p.query_id)
        |), ranked AS (
        |  SELECT query_id, neighbor_id, dot_q, qcos_raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY qcos_raw DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, dot_q, ROUND(qcos_raw, 6) AS qcos
        |FROM ranked WHERE rank <= $k
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.ivfCosineInt8(v, v.filter(col("vec_id") < 5), "vec_id",
        "e", k = 10, nCells = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("dot_q"), round(col("qcos"), 6).as("qcos"))
        .orderBy("query_id", "rank")
    },

    // ---- LSH ANN, 100 TB regime: corpus-sized signature width ------------
    // bits = 0 is the linear scale path: signature width derives from the
    // corpus count (autoBits — expected bucket size pinned at bucketTarget,
    // candidate volume ~ tables · N · bucketTarget instead of quadratic).
    // The oracle re-derives the SAME width from COUNT(*)
    // (GREATEST(3, length(bin(N // target))) = 64 - numberOfLeadingZeros)
    // and buckets with the first `b` of 16 embedded hyperplane rows — the
    // prefix is exact because hyperplanes() fills rows sequentially from
    // one seeded RNG. sf0.1 (2000 vecs → 5 bits) and sf0.001/0.01
    // (500 → floor 3) hash-verify two different derived widths; the 10×
    // generated tables (20k vecs → 9 bits) found the old maxBits=8 row
    // budget silently clamping the ORACLE below the engine's width — the
    // engine was right, the oracle ran out of rows. 16 embedded rows keep
    // the oracle exact to N = target · 2^16 ≈ 4M vectors; past that the
    // derivation-side must grow again (the engine itself is unbounded).
    sql("emb_ann_lsh_auto", {
      val (tables, maxBits, dim, seed, k, target) = (8, 16, 64, 42L, 10, 64)
      def bucketExpr(t: Int): String =
        VectorSearch.hyperplanes(dim, maxBits, seed + t).zipWithIndex
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
        |), q AS (SELECT * FROM bk WHERE vec_id < 5),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM bk c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
        |    AND c.vec_id <> q.vec_id
        |), scored AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm) AS cosine
        |  FROM cand JOIN vn qv ON qv.vec_id = cand.query_id
        |            JOIN vn cv ON cv.vec_id = cand.neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
        |FROM ranked WHERE rank <= $k
        |ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      VectorSearch.annCosine(v, v.filter(col("vec_id") < 5), "vec_id", "e",
        dim = 64, k = 10, bits = 0, tables = 8, bucketTarget = 64)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }
  )
}
