package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.ops.TextAnalysis
import QueryDef._

/** Training-data pipeline surface: fingerprinting, token accounting,
  * SimHash near-dup candidates, language ID and the quality gate. */
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
    }
  )
}
