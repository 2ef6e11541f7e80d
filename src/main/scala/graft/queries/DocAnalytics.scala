package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import QueryDef._

/** Training-data pipeline operators over the `documents` table: text
  * statistics, quality scoring, exact + fingerprint dedup, shingle-based
  * near-dup detection (exact Jaccard and MinHash-LSH banding).
  *
  * Scale notes: everything is a groupBy/join on content-derived keys —
  * no driver-side loops. Exact-Jaccard self-joins on shingles are the
  * verification path; the 100 TB path is MinHash-LSH (doc_minhash_lsh):
  * signatures shrink each doc to 16 hashes, band-bucket joins touch only
  * colliding candidates. MinHash uses md5 (identical in DuckDB) so the
  * whole pipeline is oracle-checkable, and is order/partitioning
  * independent (min over a set).
  */
object DocAnalytics {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** DuckDB twin of graft.ops.Dedup.winnowFingerprints (k=3, win=4) as
    * a WITH prefix ending in the `pick` CTE — shared by the fingerprint
    * dump and the overlap report so the derivations cannot drift. */
  private val WinnowCte: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), g AS (
      |  SELECT doc_id, i AS pos, GREATEST(len(w) - 2, 1) AS gcnt,
      |    CAST('0x' || substr(md5(array_to_string(w[i:(i+2)], ' ')), 1, 15)
      |      AS BIGINT) AS h
      |  FROM d, unnest(range(1, GREATEST(len(w) - 2, 1) + 1)) AS t(i)
      |), wnd AS (
      |  SELECT doc_id, pos, h, unnest(range(
      |    GREATEST(pos, LEAST(4, gcnt)),
      |    LEAST(pos + 3, gcnt) + 1)) AS e
      |  FROM g
      |), pick AS (
      |  SELECT doc_id, pos, h FROM (
      |    SELECT doc_id, pos, h,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id, e
      |        ORDER BY h, pos DESC) AS rk
      |    FROM wnd) WHERE rk = 1
      |)""".stripMargin

  /** DuckDB twin of graft.ops.Dedup.dupSpans' derivation (k=3,
    * minWords=6) as a WITH prefix ending in the `spans` CTE — shared by
    * the span report and the trim so the derivations cannot drift.
    * Unlike WinnowCte there is NO short-doc clip: documents under k
    * words yield no grams and no spans. */
  private val DupSpanCte: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), g AS (
      |  SELECT doc_id, i AS pos,
      |    CAST('0x' || substr(md5(array_to_string(w[i:(i+2)], ' ')), 1, 15)
      |      AS BIGINT) AS h
      |  FROM d, unnest(range(1, len(w) - 1)) AS t(i)
      |  WHERE len(w) >= 3
      |), dup AS (
      |  SELECT doc_id, pos FROM g
      |  WHERE h IN (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2)
      |), isl AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM dup
      |), spans AS (
      |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 2 AS span_end
      |  FROM isl GROUP BY doc_id, grp
      |  HAVING MAX(pos) + 2 - MIN(pos) + 1 >= 6
      |)""".stripMargin

  /** DuckDB twin of graft.ops.Dedup.shingles as a CTE body. */
  private def shingleSqlOver(src: String) =
    s"""SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(w)-1, 2)),
      |                   i -> array_to_string(w[i:i+2], ' ')))) AS shingle
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)""".stripMargin

  private val shingleSql = shingleSqlOver("documents")

  /** DuckDB twin of Dedup's signature+banding chain: CTEs `shingles`,
    * `sig`, `banded(doc_id, b0..b3)` over `src`. */
  private def bandedCtesOver(src: String): String = {
    val mins = (0 until 16)
      .map(i => s"MIN(md5('$i|' || shingle)) AS m$i").mkString(",\n    ")
    val bands = (0 until 4)
      .map(k => s"md5(m${4 * k} || m${4 * k + 1} || m${4 * k + 2} || m${4 * k + 3}) AS b$k")
      .mkString(", ")
    s"""shingles AS (
      |${shingleSqlOver(src)}
      |), sig AS (
      |  SELECT doc_id,
      |    $mins
      |  FROM shingles GROUP BY doc_id
      |), banded AS (
      |  SELECT doc_id, $bands FROM sig
      |)""".stripMargin
  }

  /** DuckDB twin of graft.ops.Dedup.minhashCandidates as a CTE chain
    * ending in `pairs(doc_a, doc_b)` — shared by doc_minhash_lsh, the
    * component-clustering oracle, and the end-to-end cleaning pipeline
    * (which runs it over the train subset). */
  private def minhashPairCtesOver(src: String): String = {
    val unions = (0 until 4)
      .map(k => s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b ON a.b$k = b.b$k AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n  ")
    s"""${bandedCtesOver(src)}, pairs AS (
      |  $unions
      |)""".stripMargin
  }

  private val minhashPairCtes: String = minhashPairCtesOver("documents")

  val all: Seq[QueryDef] = Seq(

    // ---- token/char statistics per source --------------------------------
    sql("doc_token_stats",
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  MAX(n_chars) AS max_chars
        |FROM documents
        |GROUP BY source
        |ORDER BY source""") { (s, dir) =>
      docs(s, dir)
        .withColumn("n_tokens", size(expr("regexp_extract_all(text, '\\\\S+', 0)")))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source")
    },

    // ---- per-doc character entropy (gibberish/noise gate) -----------------
    // H = log2(L) − (1/L)·Σ n_c·log2(n_c), every log2 micro-rounded and
    // the divide integral — an exact BIGINT statistic in both engines.
    // Spark side is a shuffle-free per-row sorted-fold projection; the
    // twin recomputes the counts via unnest + GROUP BY (values, not
    // plans, are what's compared). Gate: < 2.0 bits/char flags
    // repeated-symbol spam; natural text sits near 4.
    sql("doc_char_entropy",
      """WITH cs AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        |), cnt AS (
        |  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM cs GROUP BY doc_id, c
        |), agg AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars_seen,
        |    CAST(COUNT(*) AS BIGINT) AS distinct_chars,
        |    CAST(SUM(n * CAST(ROUND(log2(n) * 1e6) AS BIGINT)) AS BIGINT) AS s
        |  FROM cnt GROUP BY doc_id
        |)
        |SELECT doc_id, n_chars_seen, distinct_chars, entropy_micro,
        |  CASE WHEN entropy_micro < 2000000 THEN 1 ELSE 0 END AS is_low_entropy
        |FROM (
        |  SELECT doc_id, n_chars_seen, distinct_chars,
        |    CAST(ROUND(log2(n_chars_seen) * 1e6) AS BIGINT)
        |      - s // n_chars_seen AS entropy_micro
        |  FROM agg WHERE n_chars_seen > 0)
        |ORDER BY doc_id""") { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.ops.TextAnalysis.charEntropyStats(col("text")).as("st"))
        .filter(col("st.n_chars_seen") > 0)
        .select(col("doc_id"), col("st.n_chars_seen"),
          col("st.distinct_chars"), col("st.entropy_micro"),
          when(col("st.entropy_micro") < 2000000L, 1).otherwise(0)
            .as("is_low_entropy"))
        .orderBy("doc_id")
    },

    // ---- per-doc top TF-IDF terms (exact fixed-point scores) -------------
    // One corpus pass → (doc, term, tf); df is a vocab-bounded second
    // aggregate of that frame joined back on the term key; N broadcasts.
    // Scores are exact BIGINT micros (tf · micro(idf)) so the per-doc
    // rank order — the ONLY window, partitioned by doc — replays
    // identically in DuckDB. Capped to doc_id < 200 for output size only.
    sql("doc_tfidf_terms",
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |    FROM documents)
        |  GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT COUNT(*) AS n FROM documents
        |), scored AS (
        |  SELECT doc_id, term, tf,
        |    tf * (CAST(ROUND(ln((n + 1.0) / (df + 1.0)) * 1e6) AS BIGINT)
        |          + 1000000) AS score_micro
        |  FROM tf JOIN dfreq USING (term), n
        |)
        |SELECT doc_id, rk, term, tf, score_micro FROM (
        |  SELECT doc_id, term, tf, score_micro,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score_micro DESC, term) AS INTEGER) AS rk
        |  FROM scored)
        |WHERE rk <= 3 AND doc_id < 200
        |ORDER BY doc_id, rk""") { (s, dir) =>
      graft.ops.TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", 3)
        .filter(col("doc_id") < 200)
        .orderBy("doc_id", "rk")
    },

    // ---- BM25 retrieval over the corpus (exact integer ranking) ----------
    // Fixed query-term set, k1=1.2 / b=0.75 folded into the exact
    // integral quotient 22·W·idf_fp·tf div (10·W·tf + 3·W + 9·dl·N) —
    // no float enters the rank key, so top-20 by (score desc, doc)
    // is engine-independent. tf filters to the query terms BEFORE
    // aggregating; W/N/df broadcast.
    sql("doc_bm25_topk",
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM w GROUP BY doc_id
        |), tot AS (
        |  SELECT CAST(SUM(dl) AS BIGINT) AS w_total,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM dl
        |), tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM w
        |  WHERE term IN ('spark', 'join', 'window')
        |  GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        |), per AS (
        |  SELECT tf.doc_id,
        |    CAST((CAST(22 AS HUGEINT) * w_total *
        |      (CAST(ROUND(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6) AS BIGINT))
        |      * tf) //
        |      (CAST(10 AS HUGEINT) * w_total * tf + 3 * w_total + 9 * dl * n)
        |      AS BIGINT) AS s
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), tot
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(s) AS BIGINT) AS score_micro
        |FROM per GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id
        |LIMIT 20""") { (s, dir) =>
      graft.ops.TextAnalysis.bm25TopDocs(docs(s, dir),
        Seq("spark", "join", "window"), "doc_id", "text", 20)
    },

    // ---- inverted-index build (bounded posting lists) ---------------------
    // The tail-term retrieval index upstream of the BM25/decontam
    // probes: per term, df + the first 10 doc ids, with terms past
    // df = 400 DYNAMICALLY STOP-LISTED before any per-term work (the
    // winnowing hot-cap reasoning: a term in half the corpus has no
    // retrieval value and its posting list is the hot key that
    // straggles index builds; at this fixture's 31-term vocabulary the
    // cap drops exactly the one df=402 boilerplate term, so the
    // stop-list branch is live). After the cap the per-term window
    // group is ≤ 400 rows at ANY corpus size. Postings are
    // comma-joined.
    sql("doc_postings",
      """WITH td AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |      unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        |    FROM documents)
        |), dfc AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM td GROUP BY term HAVING COUNT(*) <= 400
        |), rk AS (
        |  SELECT term, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rk
        |  FROM td WHERE term IN (SELECT term FROM dfc)
        |)
        |SELECT term, df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    AS postings
        |FROM rk JOIN dfc USING (term)
        |WHERE rk <= 10
        |GROUP BY term, df
        |ORDER BY term""") { (s, dir) =>
      graft.ops.TextAnalysis.postings(docs(s, dir), maxDf = 400, topK = 10)
        .orderBy("term")
    },

    // ---- per-doc quality scoring (stopword ratio, token stats) -----------
    sql("doc_quality",
      """SELECT doc_id, n_tokens, stop_tokens,
        |  CAST(stop_tokens AS DOUBLE) / n_tokens AS stop_ratio,
        |  CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
        |  CASE WHEN n_tokens >= 30 AND CAST(stop_tokens AS DOUBLE) / n_tokens < 0.2
        |       THEN 1 ELSE 0 END AS is_quality
        |FROM (
        |  SELECT doc_id, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a'))) AS stop_tokens
        |  FROM documents)
        |WHERE doc_id < 100
        |ORDER BY doc_id""") { (s, dir) =>
      docs(s, dir)
        .filter(col("doc_id") < 100)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("stop_tokens",
          size(expr("filter(toks, x -> x IN ('the', 'a'))")))
        .select(
          col("doc_id"), col("n_tokens"), col("stop_tokens"),
          (col("stop_tokens").cast("double") / col("n_tokens")).as("stop_ratio"),
          (col("n_chars").cast("double") / col("n_tokens")).as("avg_token_len"),
          when(col("n_tokens") >= 30 &&
            col("stop_tokens").cast("double") / col("n_tokens") < 0.2, 1)
            .otherwise(0).as("is_quality"))
        .orderBy("doc_id")
    },

    // ---- language/source distribution ------------------------------------
    sql("doc_lang_stats",
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""") { (s, dir) =>
      docs(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang")
    },

    // ---- exact dedup: content-hash groups, keep-min representative -------
    sql("doc_exact_dedup",
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS keep_id
        |FROM documents
        |GROUP BY 1
        |ORDER BY content_hash""") { (s, dir) =>
      graft.ops.Dedup.exactGroups(docs(s, dir)).orderBy("content_hash")
    },

    // ---- normalized fingerprint dedup (whitespace/case-insensitive) ------
    sql("doc_fingerprint_dedup",
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS keep_id, MAX(doc_id) AS last_id
        |FROM documents
        |GROUP BY 1
        |HAVING COUNT(*) > 1 OR MIN(doc_id) % 50 = 0
        |ORDER BY fingerprint""") { (s, dir) =>
      graft.ops.Dedup.fingerprintGroups(docs(s, dir))
        .filter(col("n_docs") > 1 || col("keep_id") % 50 === 0)
        .orderBy("fingerprint")
    },

    // ---- streaming exact-dedup admission on the batch path ---------------
    // StreamingOps.runningDedup executed as one batch: continuous-ingest
    // admission with 8 bytes of state per distinct fingerprint (the
    // winning doc_id). The doc_id-sorted fold makes a single-batch
    // execution admit exactly the per-fingerprint MINIMUM id — the batch
    // dedup rule, which is the oracle below. StreamingSpec separately
    // pins multi-trigger first-seen semantics and TTL eviction.
    sql("doc_streaming_dedup",
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        |  doc_id = MIN(doc_id) OVER (
        |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |  ) AS admitted
        |FROM documents
        |ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      val pts = docs(s, dir)
        .select(graft.ops.Dedup.fingerprint(col("text")).as("key"),
          col("doc_id"), lit(null).cast("timestamp").as("ts"))
        .as[StreamingOps.DedupPoint]
      StreamingOps.runningDedup(pts).toDF()
        .select(col("doc_id"), col("key").as("fingerprint"), col("admitted"))
        .orderBy("doc_id")
    },

    // ---- winnowing fingerprints (Schleimer et al., SIGMOD 2003) ----------
    // The MOSS local-similarity fingerprint: hash every word 3-gram,
    // slide a 4-gram-hash window, keep each window's minimum hash (ties
    // to the RIGHTMOST position), dedupe. Any shared 6-word run between
    // two docs yields an identical selected hash at ~2/(win+1) density.
    // Window groups hold ≤ 4 rows each (doc × window-end) — massively
    // parallel, never a per-doc history; md5-derived hashes replay in
    // any engine.
    sql("doc_winnow_fingerprints",
      s"""$WinnowCte
        |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, h
        |FROM pick ORDER BY doc_id, pos""") { (s, dir) =>
      graft.ops.Dedup.winnowFingerprints(docs(s, dir), k = 3, win = 4)
        .orderBy("doc_id", "pos")
    },

    // ---- MOSS overlap report: doc pairs sharing winnow fingerprints ------
    // The detector the fingerprints exist for: pairs of documents with
    // ≥ 3 shared selected hashes, via an equi-join on the hash (work =
    // Σ per-hash pairs, never corpus²); hashes held by > 50 docs are
    // boilerplate and drop first (the hot-shingle cap's rationale —
    // documented recall trade).
    sql("doc_winnow_overlap",
      s"""$WinnowCte, fp AS (
        |  SELECT DISTINCT doc_id, h FROM pick
        |), ok AS (
        |  SELECT doc_id, h FROM fp
        |  WHERE h NOT IN (SELECT h FROM fp GROUP BY h HAVING COUNT(*) > 50)
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS BIGINT) AS shared_fps
        |FROM ok a JOIN ok b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING COUNT(*) >= 3
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      graft.ops.Dedup.winnowOverlap(docs(s, dir), k = 3, win = 4,
          minShared = 3, hotCap = 50)
        .orderBy("doc_a", "doc_b")
    },

    // ---- streaming winnow/MOSS admission gate -----------------------------
    // The continuous-ingest twin of doc_winnow_overlap: a document is
    // ADMITTED iff fewer than 3 of its winnow fingerprints were already
    // carried by a lower-id document — the plagiarism/decontamination
    // gate applied at ingest time rather than as a corpus-wide pair
    // report. Stage 1 is the runningDedup carrier keyed by FINGERPRINT
    // (state = the 8-byte first-seen doc per fingerprint — the hotCap=1
    // point of the seen-doc-set family, strictly bounded and TTL-able);
    // stage 2 aggregates the per-fingerprint verdicts per document.
    // matched_fps counts fingerprints shared with ANY prior document,
    // which upper-bounds every pairwise shared count — so any pair
    // winnowOverlap would flag (≥ minShared shared fps, earlier doc
    // first) has its LATER member rejected here: the conservative
    // direction for a contamination gate. The oracle replays first-seen
    // as a per-hash MIN over the shared WinnowCte derivation.
    sql("doc_streaming_winnow",
      s"""$WinnowCte, fp AS (
        |  SELECT DISTINCT doc_id, h FROM pick
        |), fst AS (
        |  SELECT h, MIN(doc_id) AS fd FROM fp GROUP BY h
        |)
        |SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
        |  CAST(SUM(CASE WHEN f.doc_id > fst.fd THEN 1 ELSE 0 END)
        |    AS BIGINT) AS matched_fps,
        |  SUM(CASE WHEN f.doc_id > fst.fd THEN 1 ELSE 0 END) < 3 AS admitted
        |FROM fp f JOIN fst ON f.h = fst.h
        |GROUP BY f.doc_id
        |ORDER BY f.doc_id""") { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamingOps
      val pts = graft.ops.Dedup
        .winnowFingerprints(docs(s, dir), k = 3, win = 4)
        .select(col("doc_id"), col("h")).distinct()
        .select(col("h").cast("string").as("key"), col("doc_id"),
          lit(null).cast("timestamp").as("ts"))
        .as[StreamingOps.DedupPoint]
      StreamingOps.runningDedup(pts).toDF()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fps"),
          sum(when(col("admitted"), 0L).otherwise(1L)).as("matched_fps"))
        .withColumn("admitted", col("matched_fps") < 3)
        .orderBy("doc_id")
    },

    // ---- duplicated-span detection (exact substring dedup) ---------------
    // The Lee, Ippolito et al. (ACL 2022) complement of whole-document
    // dedup: maximal word spans whose 3-grams repeat ANYWHERE in the
    // corpus (cross-doc or within-doc), ≥ 6 words long — the boilerplate
    // passages that recur inside otherwise-unique pages and survive every
    // doc-level fingerprint. Dup grams come from a map-side-combinable
    // count over the 60-bit gram hash + a LEFT SEMI equi-join (never
    // corpus²); spans are per-doc gaps-and-islands over positions.
    sql("doc_dup_spans",
      s"""$DupSpanCte
        |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
        |  CAST(span_end AS BIGINT) AS span_end,
        |  CAST(span_end - span_start + 1 AS BIGINT) AS n_words
        |FROM spans
        |ORDER BY doc_id, span_start""") { (s, dir) =>
      graft.ops.Dedup.dupSpans(docs(s, dir), k = 3, minWords = 6)
        .orderBy("doc_id", "span_start")
    },

    // ---- duplicated-span trim (the repair action) -------------------------
    // Remove every qualifying span's words and reassemble each document
    // from the survivors: covered positions by exploding span ranges
    // (linear in covered words, never a range join), kept words by ANTI
    // join, reassembly by ordered fold. Whole-doc duplicates trim to
    // empty; unique docs pass through byte-identical (modulo the
    // single-space word convention).
    sql("doc_dup_span_trim",
      s"""$DupSpanCte, cov AS (
        |  SELECT DISTINCT doc_id, p AS pos
        |  FROM spans, unnest(range(span_start, span_end + 1)) AS t(p)
        |), words AS (
        |  SELECT doc_id, i AS pos, w[i] AS word
        |  FROM d, unnest(range(1, len(w) + 1)) AS t(i)
        |), kept AS (
        |  SELECT wo.doc_id, wo.pos, wo.word
        |  FROM words wo LEFT JOIN cov
        |    ON wo.doc_id = cov.doc_id AND wo.pos = cov.pos
        |  WHERE cov.pos IS NULL
        |), keptagg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(word, ' ' ORDER BY pos) AS t
        |  FROM kept GROUP BY doc_id
        |), totals AS (
        |  SELECT doc_id, COUNT(*) AS n_total FROM words GROUP BY doc_id
        |)
        |SELECT totals.doc_id,
        |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(n_total - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(t, '') AS trimmed_text
        |FROM totals LEFT JOIN keptagg ON totals.doc_id = keptagg.doc_id
        |ORDER BY totals.doc_id""") { (s, dir) =>
      graft.ops.Dedup.dupSpanTrim(docs(s, dir), k = 3, minWords = 6)
        .orderBy("doc_id")
    },

    // ---- exact n-gram Jaccard near-dup pairs (verification path) ---------
    // |A∩B| via shingle self-join, sizes via per-doc distinct counts.
    // This all-pairs form is the ORACLE TWIN; the production path at
    // corpus scale is Dedup.nearDedup / doc_minhash_lsh (LSH candidates,
    // verification restricted to candidates only).
    sql("doc_neardup_jaccard",
      s"""WITH shingles AS (
        |$shingleSql
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
        |), common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        |  FROM shingles a JOIN shingles b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      graft.ops.Dedup.jaccardPairs(docs(s, dir), 0.8)
        .orderBy("doc_a", "doc_b")
    },

    // ---- MinHash signatures + LSH banding (the 100 TB dedup path) --------
    // 16 md5-based min-hashes per doc, 4 bands × 4 rows; candidate pairs
    // are docs colliding in ≥1 band. md5 makes it engine-portable AND
    // deterministic under any partitioning.
    sql("doc_minhash_lsh",
      s"""WITH $minhashPairCtes
        |SELECT doc_a, doc_b FROM pairs
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      graft.ops.Dedup.minhashCandidates(docs(s, dir))
        .orderBy("doc_a", "doc_b")
    },

    // ---- cross-source near-dup LEAKAGE matrix ----------------------------
    // The "is my web crawl bleeding into my books split" audit: the LSH
    // candidate pairs mapped to lexicographically-ordered source pairs
    // (diagonal = within-source duplication). Two slim joins + one
    // bounded groupBy past the shared pair derivation — at 100 TB the
    // matrix is |sources|² rows no matter the corpus.
    sql("doc_source_overlap",
      s"""WITH $minhashPairCtes
        |SELECT LEAST(da.source, db.source) AS src_a,
        |  GREATEST(da.source, db.source) AS src_b,
        |  COUNT(*) AS n_pairs
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.doc_a
        |JOIN documents db ON db.doc_id = p.doc_b
        |GROUP BY 1, 2
        |ORDER BY 1, 2""") { (s, dir) =>
      graft.ops.Dedup.sourceOverlap(docs(s, dir))
        .orderBy("src_a", "src_b")
    },

    // ---- asymmetric containment estimate over LSH candidates -------------
    // Broder's containment (is doc A embedded in doc B?) from the
    // signatures already computed for banding: Ĵ = matching positions /
    // 16, |A∩B| ≈ Ĵ(|A|+|B|)/(1+Ĵ), containment = over min size.
    // Exact set sizes, bounded per-pair cost (16 compares), no shingle
    // re-join — the scale-safe quote/subset detector next to the exact
    // jaccard verification twin.
    sql("doc_containment", {
      val matches = (0 until 16)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashPairCtes,
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM shingles GROUP BY 1),
        |m AS (
        |  SELECT p.doc_a, p.doc_b, sa.nsh AS na, sb.nsh AS nb,
        |    ($matches) AS matches
        |  FROM pairs p
        |  JOIN sig a ON a.doc_id = p.doc_a
        |  JOIN sig b ON b.doc_id = p.doc_b
        |  JOIN sizes sa ON sa.doc_id = p.doc_a
        |  JOIN sizes sb ON sb.doc_id = p.doc_b
        |)
        |SELECT doc_a, doc_b, na, nb, matches,
        |  ROUND(CAST(matches AS DOUBLE) / 16.0 * (na + nb)
        |    / (1.0 + CAST(matches AS DOUBLE) / 16.0)
        |    / LEAST(na, nb), 6) AS containment_est
        |FROM m
        |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
      graft.ops.Dedup.containmentEst(docs(s, dir))
        .orderBy("doc_a", "doc_b")
    },

    // ---- near-dup CLUSTERING: LSH pairs → connected components ----------
    // The dedup decision corpus pipelines actually need: transitive
    // closure of the candidate-pair graph, one representative (= minimum
    // doc_id) per cluster. Spark side is alternating large-star /
    // small-star (Dedup.connectedComponents — O(log²) rounds, skew
    // bounded by max degree); the oracle replays the closure as a DuckDB
    // recursive CTE over the identical md5-MinHash pair set.
    sql("doc_dedup_components",
      s"""WITH RECURSIVE $minhashPairCtes,
        |nodes AS (
        |  SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs
        |), edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT reach.id, e.v AS r FROM reach JOIN edges e ON e.u = reach.r
        |), comp AS (
        |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
        |), labeled AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |)
        |SELECT doc_id, component,
        |  COUNT(*) OVER (PARTITION BY component) AS csize,
        |  CASE WHEN doc_id = component THEN 1 ELSE 0 END AS keep
        |FROM labeled
        |ORDER BY doc_id""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.ops.Dedup.nearDupComponents(docs(s, dir))
        .withColumn("csize",
          count(lit(1)).over(Window.partitionBy(col("component"))))
        .withColumn("keep",
          when(col("doc_id") === col("component"), 1).otherwise(0))
        .orderBy("doc_id")
    },

    // ---- canonical-representative selection (keep-longest dedup) ---------
    // Production canonicalization: each near-dup cluster keeps its
    // LONGEST member (ties → lowest id), not blindly the min id — a
    // truncated copy must never shadow the full document. Selection is a
    // map-side-combinable max(struct(len, -id)) per component (no
    // per-cluster window sort — a mega-cluster cannot straggle); the
    // oracle replays the same closure + an explicit rank-1 window.
    sql("doc_canonical_reps",
      s"""WITH RECURSIVE $minhashPairCtes,
        |nodes AS (
        |  SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs
        |), edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT reach.id, e.v AS r FROM reach JOIN edges e ON e.u = reach.r
        |), comp AS (
        |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
        |), labeled AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
        |    len(d.text) AS k
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |), reps AS (
        |  SELECT component, doc_id AS rep_id FROM (
        |    SELECT component, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY component
        |        ORDER BY k DESC, doc_id) AS rk
        |    FROM labeled) WHERE rk = 1
        |), sizes AS (
        |  SELECT component, COUNT(*) AS csize FROM labeled GROUP BY component
        |)
        |SELECT l.doc_id, l.component, s.csize, r.rep_id,
        |  CASE WHEN l.doc_id = r.rep_id THEN 1 ELSE 0 END AS is_rep
        |FROM labeled l JOIN reps r USING (component)
        |JOIN sizes s USING (component)
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.Dedup.canonicalReps(docs(s, dir)).orderBy("doc_id")
    },

    // ---- §2.8 recursive 500/100 text splitter, full oracle ---------------
    // Chunker.splitText (chunker.py:8-16, langchain's recursive splitter):
    // on this corpus (single-space word sequences, words ≤ 8 chars, no
    // newlines) the algorithm reduces provably to a greedy word merge
    // with a ≤100-char carried overlap — which the oracle replays as a
    // DuckDB recursive CTE over word-prefix lengths. cum[j] is the joined
    // length of words 1..j plus one separator (so join(s..j) =
    // cum[j]-cum[s-1]-1); a chunk [s,e] takes the longest fitting prefix,
    // the next start trims the head until the carried tail is ≤ overlap.
    sql("doc_text_splitter", {
      def cum0(sv: String) =
        s"(CASE WHEN $sv = 1 THEN 0 ELSE cum[$sv - 1] END)"
      def eOf(sv: String) =
        s"($sv - 1 + len(list_filter(list_slice(cum, $sv, nw), c -> c - ${cum0(sv)} <= 501)))"
      val s2 = "(s + len(list_filter(list_slice(cum, s, e - 1), c -> c < cum[e] - 101)) + 1)"
      s"""WITH RECURSIVE w AS (
        |  SELECT doc_id, ws, len(ws) AS nw,
        |    list_transform(range(1, len(ws) + 1),
        |      j -> strlen(array_to_string(ws[1:j], ' ')) + 1) AS cum
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE text IS NOT NULL AND text <> '')
        |), chunks AS (
        |  SELECT doc_id, ws, nw, cum, 0 AS piece_index, 1 AS s,
        |    ${eOf("1")} AS e
        |  FROM w
        |  UNION ALL
        |  SELECT doc_id, ws, nw, cum, piece_index + 1, $s2 AS s,
        |    ${eOf(s2)} AS e
        |  FROM chunks WHERE e < nw
        |)
        |SELECT doc_id, piece_index,
        |  array_to_string(list_slice(ws, s, e), ' ') AS content,
        |  row_number() OVER (ORDER BY doc_id, piece_index) - 1 AS chunk_index
        |FROM chunks
        |ORDER BY doc_id, piece_index"""
    }) { (s, dir) =>
      graft.trace.Chunker.splitChunks(docs(s, dir).select(
          col("doc_id").as("chunk_id"), lit(0L).as("start_event_id"),
          lit(0L).as("end_event_id"), lit("doc").as("chunk_type"),
          col("text").as("chunk_content")))
        .select(col("chunk_id").as("doc_id"), col("piece_index"),
          col("content"), col("chunk_index"))
        .orderBy("doc_id", "piece_index")
    },

    // ---- sequence packing: greedy token-budget bins for training ---------
    // Bucketed greedy pack (Packing.packGreedy): 8 independent id-mod
    // streams, ascending id order within each, budget 512 tokens; a doc
    // that would overflow starts a new bin. The oracle replays the greedy
    // fold per bucket as a recursive CTE over row_number levels.
    sql("doc_seq_pack",
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens,
        |    doc_id % 8 AS bucket,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents
        |), rec AS (
        |  SELECT bucket, rn, doc_id, tokens, tokens AS fill,
        |    CAST(0 AS BIGINT) AS bin
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.bucket, d.rn, d.doc_id, d.tokens,
        |    CASE WHEN r.fill + d.tokens <= 512 THEN r.fill + d.tokens
        |         ELSE d.tokens END,
        |    CASE WHEN r.fill + d.tokens <= 512 THEN r.bin ELSE r.bin + 1 END
        |  FROM rec r JOIN docs d ON d.bucket = r.bucket AND d.rn = r.rn + 1
        |)
        |SELECT doc_id, bucket, bin, fill FROM rec
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.Packing.packGreedy(
        docs(s, dir).withColumn("n_tokens",
          size(expr("regexp_extract_all(text, '\\\\S+', 0)"))),
        idCol = "doc_id", tokensCol = "n_tokens", budget = 512, buckets = 8)
        .orderBy("doc_id")
    },

    // ---- packed training EXAMPLES (materialized bins) --------------------
    // The step after bin assignment: each (bucket, bin) becomes one
    // training example — ordered member list + the concatenated text the
    // tokenizer will actually see. One groupBy over the pack assignment
    // joined back to the docs; per-bin collect is bounded by the token
    // budget, so example size is capped by construction. Restricted to
    // doc_id < 1500 to bound the oracle's recursive-CTE replay.
    sql("doc_pack_examples", {
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens,
        |    doc_id % 8 AS bucket,
        |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id < 1500
        |), rec AS (
        |  SELECT bucket, rn, doc_id, tokens, tokens AS fill,
        |    CAST(0 AS BIGINT) AS bin
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.bucket, d.rn, d.doc_id, d.tokens,
        |    CASE WHEN r.fill + d.tokens <= 512 THEN r.fill + d.tokens
        |         ELSE d.tokens END,
        |    CASE WHEN r.fill + d.tokens <= 512 THEN r.bin ELSE r.bin + 1 END
        |  FROM rec r JOIN docs d ON d.bucket = r.bucket AND d.rn = r.rn + 1
        |)
        |SELECT r.bucket AS bucket, r.bin AS bin,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(r.tokens) AS BIGINT) AS total_tokens,
        |  string_agg(r.doc_id::VARCHAR, '|' ORDER BY r.doc_id) AS doc_ids,
        |  string_agg(d.text, E'\n\n' ORDER BY r.doc_id) AS example_text
        |FROM rec r JOIN docs d ON d.doc_id = r.doc_id
        |GROUP BY 1, 2
        |ORDER BY bucket, bin"""
    }) { (s, dir) =>
      val d = docs(s, dir)
        .filter(col("doc_id") < 1500)
        .withColumn("n_tokens",
          size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long"))
      val packed = graft.ops.Packing.packGreedy(
        d, idCol = "doc_id", tokensCol = "n_tokens",
        budget = 512, buckets = 8)
      packed.join(d.select(col("doc_id"), col("text"), col("n_tokens")),
          "doc_id")
        .groupBy("bucket", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          concat_ws("|", transform(
            array_sort(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("doc_ids"),
          concat_ws("\n\n", transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            s => s.getField("text"))).as("example_text"))
        .orderBy("bucket", "bin")
    },

    // ---- deterministic train/val/test split ------------------------------
    // Salted-md5 split: the first hex nibble of md5(doc_id || salt) maps
    // 13/16 → train, 2/16 → val, 1/16 → test. Content-independent,
    // engine-portable, stable under repartitioning and corpus growth —
    // the property a 100 TB pipeline needs so a doc never migrates
    // between splits across runs.
    sql("doc_train_split",
      """SELECT doc_id, substring(md5(doc_id::VARCHAR || ':split:v1'), 1, 1) AS h,
        |  CASE WHEN substring(md5(doc_id::VARCHAR || ':split:v1'), 1, 1) < 'd' THEN 'train'
        |       WHEN substring(md5(doc_id::VARCHAR || ':split:v1'), 1, 1) < 'f' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |WHERE doc_id < 200
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.Sampling.deterministicSplit(
          docs(s, dir).filter(col("doc_id") < 200))
        .select(col("doc_id"), col("h"), col("split"))
        .orderBy("doc_id")
    },

    // ---- deterministic global shuffle → training shards -------------------
    // Every doc addressed as (shard, pos) under a reproducible random
    // permutation: shard = first 8 md5 hex digits mod 8, pos = rank of
    // the full md5 within the shard — how a training run consumes the
    // corpus (S internally-shuffled shard files, any shard re-derivable
    // from (id, salt, S) alone; no stored permutation). The per-shard
    // rank window IS the sort a shard writer needs anyway; at 100 TB,
    // nShards sizes to the target file size so per-shard volume is
    // constant in corpus size.
    sql("doc_shuffle_shards",
      """SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id)
        |    AS INTEGER) AS pos
        |FROM (
        |  SELECT doc_id, md5(doc_id::VARCHAR || ':shuffle:v1') AS k,
        |    CAST(CAST('0x' || substring(md5(doc_id::VARCHAR || ':shuffle:v1'), 1, 8)
        |      AS BIGINT) % 8 AS INTEGER) AS shard
        |  FROM documents)
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.Sampling.shuffleShards(docs(s, dir), nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id")
    },

    sql("doc_split_stats",
      """SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN substring(md5(doc_id::VARCHAR || ':split:v1'), 1, 1) < 'd' THEN 'train'
        |         WHEN substring(md5(doc_id::VARCHAR || ':split:v1'), 1, 1) < 'f' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split
        |ORDER BY split""") { (s, dir) =>
      graft.ops.Sampling.deterministicSplit(docs(s, dir))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split")
    },

    // ---- benchmark decontamination: 8-gram overlap vs an eval set --------
    // GPT-3/PaLM-style: a training doc is contaminated if it shares any
    // long word n-gram with the benchmark suite. Eval set = doc_id % 7
    // (deterministic, populated at every sf); grams are md5'd so the
    // broadcast probe set carries 32-byte hashes. The Spark plan is one
    // Generate + one BROADCAST hash join + map-side-combinable counts —
    // the corpus side never shuffles its text.
    sql("doc_decontam",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, greatest(len(w)-6, 2)),
        |      i -> md5(array_to_string(w[i:i+7], ' '))))) AS gram
        |  FROM w),
        |eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0),
        |train_g AS (SELECT doc_id, gram FROM grams WHERE doc_id % 7 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM train_g GROUP BY doc_id),
        |hits AS (SELECT doc_id, COUNT(*) AS n_contaminated
        |         FROM train_g JOIN eval_g USING (gram) GROUP BY doc_id)
        |SELECT t.doc_id AS doc_id, n_grams,
        |  COALESCE(n_contaminated, 0) AS n_contaminated,
        |  CASE WHEN COALESCE(n_contaminated, 0) > 0 THEN 1 ELSE 0 END AS contaminated
        |FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      val d = docs(s, dir)
      graft.ops.Decontam.contamination(
        d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0))
        .orderBy("doc_id")
    },

    // ---- decontamination LEAK REPORT (the reverse direction) -------------
    // Per EVAL doc: how much of it leaked into the training corpus — the
    // report a benchmark owner reads before trusting a score. Same
    // broadcast shape as the forward check (eval grams tiny, corpus side
    // one Generate + probe + map-side distinct counts).
    sql("doc_decontam_report",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, greatest(len(w)-6, 2)),
        |      i -> md5(array_to_string(w[i:i+7], ' '))))) AS gram
        |  FROM w),
        |eval_g AS (SELECT doc_id, gram FROM grams WHERE doc_id % 7 = 0),
        |train_g AS (SELECT doc_id, gram FROM grams WHERE doc_id % 7 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM eval_g GROUP BY doc_id),
        |lk AS (SELECT e.doc_id AS doc_id,
        |         COUNT(DISTINCT e.gram) AS n_leaked_grams,
        |         COUNT(DISTINCT t.doc_id) AS n_train_docs
        |       FROM eval_g e JOIN train_g t USING (gram) GROUP BY e.doc_id)
        |SELECT t.doc_id AS doc_id, n_grams,
        |  COALESCE(n_leaked_grams, 0) AS n_leaked_grams,
        |  COALESCE(n_train_docs, 0) AS n_train_docs
        |FROM tot t LEFT JOIN lk ON lk.doc_id = t.doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      val d = docs(s, dir)
      graft.ops.Decontam.contaminationReport(
        d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0))
        .orderBy("doc_id")
    },

    // ---- PII-style redaction (emails, IPs, long digit runs) --------------
    // The compliance scrub a training pipeline runs before packing: the
    // RE2-compatible pattern chain (email → ip → digit-run, order
    // matters) applied as a codegen'd regexp_replace projection, with
    // per-pattern match counts as the audit signal. The fixture corpus
    // carries no PII, so both engines plant the SAME deterministic
    // synthetic PII per doc and must agree on the scrubbed text and the
    // counts.
    sql("doc_redact",
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact u' || doc_id || '@ex-mail.com from 10.0.' ||
        |      (doc_id % 256) || '.7 ref ' || (1234567 + doc_id) AS t
        |  FROM documents WHERE doc_id < 300),
        |a AS (SELECT doc_id, t,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                 '<EMAIL>', 'g') AS t1 FROM d),
        |b AS (SELECT doc_id, t, t1,
        |  regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
        |                 '<IP>', 'g') AS t2 FROM a)
        |SELECT doc_id,
        |  regexp_replace(t2, '\d{7,}', '<NUM>', 'g') AS redacted,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(t2, '\d{7,}')) AS n_num
        |FROM b
        |ORDER BY doc_id""") { (s, dir) =>
      val t = concat(col("text"), lit(" contact u"),
        col("doc_id").cast("string"), lit("@ex-mail.com from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 ref "),
        (col("doc_id") + 1234567).cast("string"))
      docs(s, dir)
        .filter(col("doc_id") < 300)
        .withColumn("t", t)
        .withColumn("counts", graft.ops.TextAnalysis.redactCounts(col("t")))
        .select(col("doc_id"),
          graft.ops.TextAnalysis.redact(col("t")).as("redacted"),
          col("counts.n_email").as("n_email"),
          col("counts.n_ip").as("n_ip"),
          col("counts.n_num").as("n_num"))
        .orderBy("doc_id")
    },

    // ---- Gopher-style repetition signals ---------------------------------
    // Character mass of the most frequent word 2-gram and of word 3-grams
    // occurring more than once, as fractions of doc length (Rae et al.
    // 2021 §A1.1). Deterministic top pick: (count DESC, gram ASC).
    sql("doc_repetition",
      """WITH w AS (SELECT doc_id, length(text) AS n_chars_r,
        |             string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, n_chars_r, unnest(list_transform(
        |         range(1, greatest(len(w), 2)),
        |         i -> array_to_string(w[i:i+1], ' '))) AS gram FROM w),
        |c2 AS (SELECT doc_id, n_chars_r, gram, COUNT(*) AS cnt FROM g2 GROUP BY ALL),
        |top AS (SELECT doc_id, n_chars_r, gram AS top2_gram, cnt AS top2_count,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        |        FROM c2),
        |g3 AS (SELECT doc_id, unnest(list_transform(
        |         range(1, greatest(len(w)-1, 2)),
        |         i -> array_to_string(w[i:i+2], ' '))) AS gram FROM w),
        |c3 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g3 GROUP BY ALL),
        |d3 AS (SELECT doc_id, CAST(SUM(cnt * length(gram)) AS BIGINT) AS dup3_chars
        |       FROM c3 WHERE cnt > 1 GROUP BY doc_id)
        |SELECT t.doc_id AS doc_id, n_chars_r, top2_gram, top2_count,
        |  CAST(top2_count * length(top2_gram) AS DOUBLE) / greatest(n_chars_r, 1) AS top2_frac,
        |  COALESCE(dup3_chars, 0) AS dup3_chars,
        |  CAST(COALESCE(dup3_chars, 0) AS DOUBLE) / greatest(n_chars_r, 1) AS dup3_frac
        |FROM top t LEFT JOIN d3 ON d3.doc_id = t.doc_id
        |WHERE rn = 1
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.TextAnalysis.repetitionSignals(docs(s, dir))
        .select(col("doc_id"), col("n_chars_r"), col("top2_gram"),
          col("top2_count"), col("top2_frac"),
          col("dup3_chars"), col("dup3_frac"))
        .orderBy("doc_id")
    },

    // ---- repetition-gate CALIBRATION -------------------------------------
    // How an operator tunes the gate: for target keep-rates, derive the
    // top2_frac threshold as the corresponding percentile over the
    // corpus and report the exact keep count it would produce. Exact
    // `percentile` == DuckDB quantile_cont (the ev_percentiles
    // precedent); both the threshold and the per-doc frac compare at 6
    // rounded decimals so the boundary decision is engine-stable. The
    // 3-row rate/threshold frame broadcasts over the corpus (J4 shape).
    sql("doc_gate_calibration",
      """WITH w AS (SELECT doc_id, length(text) AS n_chars_r,
        |             string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, n_chars_r, unnest(list_transform(
        |         range(1, greatest(len(w), 2)),
        |         i -> array_to_string(w[i:i+1], ' '))) AS gram FROM w),
        |c2 AS (SELECT doc_id, n_chars_r, gram, COUNT(*) AS cnt FROM g2 GROUP BY ALL),
        |rep AS (SELECT doc_id,
        |          CAST(cnt * length(gram) AS DOUBLE) / greatest(n_chars_r, 1) AS top2_frac
        |        FROM (SELECT doc_id, n_chars_r, gram, cnt, ROW_NUMBER() OVER
        |                (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c2)
        |        WHERE rn = 1),
        |thr AS (SELECT ROUND(quantile_cont(top2_frac, 0.80), 6) AS t80,
        |          ROUND(quantile_cont(top2_frac, 0.90), 6) AS t90,
        |          ROUND(quantile_cont(top2_frac, 0.95), 6) AS t95,
        |          COUNT(*) AS n_docs FROM rep),
        |rates AS (
        |  SELECT CAST(0.80 AS DOUBLE) AS target_rate, t80 AS threshold, n_docs FROM thr
        |  UNION ALL
        |  SELECT CAST(0.90 AS DOUBLE), t90, n_docs FROM thr
        |  UNION ALL
        |  SELECT CAST(0.95 AS DOUBLE), t95, n_docs FROM thr)
        |SELECT target_rate, threshold, n_docs,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM rep
        |   WHERE ROUND(top2_frac, 6) <= r.threshold) AS n_kept
        |FROM rates r
        |ORDER BY target_rate""") { (s, dir) =>
      // rep feeds BOTH the threshold aggregate and the keep-count pass —
      // cached so the two-explode repetition derivation runs once, not
      // twice (the CleanPipeline cache convention)
      val rep = graft.ops.TextAnalysis.repetitionSignals(docs(s, dir))
        .select(col("doc_id"), col("top2_frac"))
        .cache()
      val thr = rep.agg(
        round(percentile(col("top2_frac"), lit(0.80)), 6).as("t80"),
        round(percentile(col("top2_frac"), lit(0.90)), 6).as("t90"),
        round(percentile(col("top2_frac"), lit(0.95)), 6).as("t95"),
        count(lit(1)).as("n_docs"))
      val rates = thr.select(explode(array(
          struct(lit(0.80).as("target_rate"), col("t80").as("threshold"),
            col("n_docs").as("n_docs")),
          struct(lit(0.90).as("target_rate"), col("t90").as("threshold"),
            col("n_docs").as("n_docs")),
          struct(lit(0.95).as("target_rate"), col("t95").as("threshold"),
            col("n_docs").as("n_docs")))).as("r"))
        .select(col("r.target_rate").as("target_rate"),
          col("r.threshold").as("threshold"), col("r.n_docs").as("n_docs"))
      rep.crossJoin(broadcast(rates))
        .groupBy("target_rate", "threshold", "n_docs")
        .agg(count(when(round(col("top2_frac"), 6) <= col("threshold"), 1))
          .as("n_kept"))
        .orderBy("target_rate")
    },

    // ---- repetition-gate calibration, 100-TB mode ------------------------
    // Same calibration, thresholds from the BOUNDED-STATE sampled
    // percentile (PctSampleAgg, k=256 — small enough that the sampling
    // regime is truly exercised at sf0.01's corpus size): aggregate state
    // is 24·k bytes flat instead of one buffered double per document,
    // which is what lets the gate be tuned on a 100-TB corpus in one
    // pass. The oracle replays the identical deterministic sample
    // (ROW_NUMBER over md5(salted doc_id) ≤ k) so the sampled thresholds
    // — and the full-corpus keep counts they imply — hash-match exactly.
    sql("doc_gate_calibration_approx",
      """WITH w AS (SELECT doc_id, length(text) AS n_chars_r,
        |             string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, n_chars_r, unnest(list_transform(
        |         range(1, greatest(len(w), 2)),
        |         i -> array_to_string(w[i:i+1], ' '))) AS gram FROM w),
        |c2 AS (SELECT doc_id, n_chars_r, gram, COUNT(*) AS cnt FROM g2 GROUP BY ALL),
        |rep AS (SELECT doc_id,
        |          CAST(cnt * length(gram) AS DOUBLE) / greatest(n_chars_r, 1) AS top2_frac
        |        FROM (SELECT doc_id, n_chars_r, gram, cnt, ROW_NUMBER() OVER
        |                (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c2)
        |        WHERE rn = 1),
        |smp AS (SELECT top2_frac FROM (
        |          SELECT top2_frac, ROW_NUMBER() OVER
        |            (ORDER BY md5(doc_id::VARCHAR || ':cal'), top2_frac) AS srn
        |          FROM rep)
        |        WHERE srn <= 256),
        |thr AS (SELECT ROUND(quantile_cont(top2_frac, 0.80), 6) AS t80,
        |          ROUND(quantile_cont(top2_frac, 0.90), 6) AS t90,
        |          ROUND(quantile_cont(top2_frac, 0.95), 6) AS t95
        |        FROM smp),
        |nd AS (SELECT COUNT(*) AS n_docs FROM rep),
        |rates AS (
        |  SELECT CAST(0.80 AS DOUBLE) AS target_rate, t80 AS threshold, n_docs FROM thr, nd
        |  UNION ALL
        |  SELECT CAST(0.90 AS DOUBLE), t90, n_docs FROM thr, nd
        |  UNION ALL
        |  SELECT CAST(0.95 AS DOUBLE), t95, n_docs FROM thr, nd)
        |SELECT target_rate, threshold, n_docs,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM rep
        |   WHERE ROUND(top2_frac, 6) <= r.threshold) AS n_kept
        |FROM rates r
        |ORDER BY target_rate""") { (s, dir) =>
      // rep feeds BOTH the threshold aggregate and the keep-count pass —
      // cached so the two-explode repetition derivation runs once, not
      // twice (the CleanPipeline cache convention)
      val rep = graft.ops.TextAnalysis.repetitionSignals(docs(s, dir))
        .select(col("doc_id"), col("top2_frac"))
        .cache()
      val ps = graft.functions.PctSampleAgg.pctSample(
        concat(col("doc_id").cast("string"), lit(":cal")),
        col("top2_frac"), Seq(0.80, 0.90, 0.95), 256)
      val thr = rep.agg(ps.as("ps"), count(lit(1)).as("n_docs"))
        .select(
          round(element_at(col("ps"), 1), 6).as("t80"),
          round(element_at(col("ps"), 2), 6).as("t90"),
          round(element_at(col("ps"), 3), 6).as("t95"),
          col("n_docs"))
      val rates = thr.select(explode(array(
          struct(lit(0.80).as("target_rate"), col("t80").as("threshold"),
            col("n_docs").as("n_docs")),
          struct(lit(0.90).as("target_rate"), col("t90").as("threshold"),
            col("n_docs").as("n_docs")),
          struct(lit(0.95).as("target_rate"), col("t95").as("threshold"),
            col("n_docs").as("n_docs")))).as("r"))
        .select(col("r.target_rate").as("target_rate"),
          col("r.threshold").as("threshold"), col("r.n_docs").as("n_docs"))
      rep.crossJoin(broadcast(rates))
        .groupBy("target_rate", "threshold", "n_docs")
        .agg(count(when(round(col("top2_frac"), 6) <= col("threshold"), 1))
          .as("n_kept"))
        .orderBy("target_rate")
    },

    // ---- deterministic token-budget sampling per language ----------------
    // The training-mix primitive: fill each stratum's TOKEN budget in
    // salted-md5 order (reproducible permutation; a doc's kept/dropped
    // status never changes when later-ordered docs are added).
    sql("doc_budget_sample",
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |    md5(doc_id::VARCHAR || ':sample:v1') AS smp_hash
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY smp_hash, doc_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CASE WHEN SUM(n_tokens) OVER (PARTITION BY lang ORDER BY smp_hash, doc_id
        |                                ROWS UNBOUNDED PRECEDING) - n_tokens < 2000
        |       THEN 1 ELSE 0 END AS kept
        |FROM d
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.Sampling.tokenBudgetSample(
        docs(s, dir).withColumn("n_tokens",
          size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")),
        stratumCol = "lang", tokensCol = "n_tokens", budget = 2000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"), col("kept"))
        .orderBy("doc_id")
    },

    // ---- incremental admission: a NEW ingest batch vs the corpus ---------
    // Continuous-ingest dedup: each new doc probes the existing corpus's
    // banded MinHash index (bipartite join — batch × index only, never
    // corpus × corpus) plus an exact content-hash anti-check; admit iff
    // neither fires. New batch = doc_id % 10 = 9 (a 10% "incoming" cut).
    sql("doc_incr_dedup", {
      val unions = (0 until 4)
        .map(k => s"SELECT n.doc_id, o.doc_id AS old_id FROM newb n JOIN oldb o ON n.b$k = o.b$k")
        .mkString("\n  UNION\n  ")
      s"""WITH ${bandedCtesOver("documents")},
        |newb AS (SELECT * FROM banded WHERE doc_id % 10 = 9),
        |oldb AS (SELECT * FROM banded WHERE doc_id % 10 <> 9),
        |near AS (
        |  SELECT doc_id, COUNT(*) AS near_candidates FROM (
        |  $unions
        |  ) GROUP BY doc_id
        |), oldh AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 9
        |), ex AS (
        |  SELECT doc_id,
        |    CASE WHEN h IS NOT NULL THEN 1 ELSE 0 END AS exact_dup
        |  FROM (SELECT doc_id, md5(text) AS nh FROM documents WHERE doc_id % 10 = 9)
        |  LEFT JOIN oldh ON oldh.h = nh
        |)
        |SELECT ex.doc_id AS doc_id, exact_dup,
        |  COALESCE(near_candidates, 0) AS near_candidates,
        |  CASE WHEN exact_dup = 0 AND COALESCE(near_candidates, 0) = 0
        |       THEN 1 ELSE 0 END AS admit
        |FROM ex LEFT JOIN near ON near.doc_id = ex.doc_id
        |ORDER BY doc_id"""
    }) { (s, dir) =>
      val d = docs(s, dir)
      graft.ops.Dedup.incrementalAdmit(
        d.filter(col("doc_id") % 10 === 9), d.filter(col("doc_id") % 10 =!= 9))
        .orderBy("doc_id")
    },

    // ---- streaming clean-pipeline gate on the batch path -----------------
    // Driver-visible oracle evidence for StreamingOps.cleanStream (the
    // ev_streaming_gate move): the EXACT streaming operator — per-row
    // quality/repetition projections, key-unique stream-static dedup
    // probes with incrementalAdmit semantics, the 1-row eval-gram-array
    // cross join — executed on batch frames, hash-matched against a full
    // DuckDB re-derivation of all four gates. Split: ingest batch =
    // doc_id % 10 = 9 probing the % 10 <> 9 corpus; benchmark set = the
    // corpus docs with doc_id % 7 = 0.
    sql("doc_clean_stream_gate", {
      val bandHits = (0 until 4)
        .map(k => s"SELECT DISTINCT n.doc_id FROM newb n JOIN oldb o ON n.b$k = o.b$k")
        .mkString("\n  UNION\n  ")
      s"""WITH ${bandedCtesOver("documents")},
        |newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9),
        |qual AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text, ' ')) >= 20
        |          AND CAST(len(list_filter(string_split(text, ' '),
        |                x -> x IN ('the', 'a'))) AS DOUBLE)
        |              / len(string_split(text, ' ')) < 0.1
        |         THEN 1 ELSE 0 END AS is_quality
        |  FROM newd
        |), w2 AS (
        |  SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS w FROM newd
        |), c2 AS (
        |  SELECT doc_id, nc, g, COUNT(*) AS cnt FROM (
        |    SELECT doc_id, nc, unnest(list_transform(
        |          range(1, greatest(len(w), 2)),
        |          i -> array_to_string(w[i:i+1], ' '))) AS g FROM w2)
        |  GROUP BY ALL
        |), rep AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(cnt * length(g) AS DOUBLE) / greatest(nc, 1) < 0.18
        |         THEN 1 ELSE 0 END AS not_repetitive
        |  FROM (SELECT doc_id, nc, g, cnt, ROW_NUMBER() OVER
        |          (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM c2)
        |  WHERE rn = 1
        |), newb AS (SELECT * FROM banded WHERE doc_id % 10 = 9),
        |oldb AS (SELECT * FROM banded WHERE doc_id % 10 <> 9),
        |near AS (
        |  $bandHits
        |), oldh AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 9
        |), ex AS (
        |  SELECT doc_id,
        |    CASE WHEN h IS NOT NULL THEN 1 ELSE 0 END AS exact_dup
        |  FROM (SELECT doc_id, md5(text) AS nh FROM newd)
        |  LEFT JOIN oldh ON oldh.h = nh
        |), dgr AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w)-6, 2)),
        |    i -> md5(array_to_string(w[i:i+7], ' '))))) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM newd)
        |), evg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w)-6, 2)),
        |    i -> md5(array_to_string(w[i:i+7], ' '))))) AS gram
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents
        |        WHERE doc_id % 10 <> 9 AND doc_id % 7 = 0)
        |), contam AS (
        |  SELECT DISTINCT d.doc_id FROM dgr d JOIN evg USING (gram)
        |)
        |SELECT q.doc_id AS doc_id, is_quality, not_repetitive,
        |  CASE WHEN exact_dup = 0 AND near.doc_id IS NULL
        |       THEN 1 ELSE 0 END AS dedup_keep,
        |  CASE WHEN contam.doc_id IS NULL THEN 1 ELSE 0 END AS not_contaminated,
        |  CASE WHEN is_quality = 1 AND not_repetitive = 1
        |        AND exact_dup = 0 AND near.doc_id IS NULL
        |        AND contam.doc_id IS NULL
        |       THEN 1 ELSE 0 END AS keep
        |FROM qual q
        |JOIN rep USING (doc_id)
        |JOIN ex USING (doc_id)
        |LEFT JOIN near ON near.doc_id = q.doc_id
        |LEFT JOIN contam ON contam.doc_id = q.doc_id
        |ORDER BY doc_id"""
    }) { (s, dir) =>
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 10 === 9)
      val corpus = d.filter(col("doc_id") % 10 =!= 9)
      // cleanStream probes the band index once PER BAND (4 key-unique
      // left joins), but NO cache here: the shingle→MinHash aggregation
      // subtree is identical under all four probes, so Spark's
      // ReuseExchange computes it once and the per-band filters run over
      // the reused exchange (measured: caching is ~12% SLOWER at sf0.1 —
      // materialization cost with no recompute to save). In a real
      // deployment this frame is the STORED corpus index the stream
      // probes.
      val corpusBands = graft.ops.Dedup.bands(
        graft.ops.Dedup.minhashSignatures(graft.ops.Dedup.shingles(corpus)))
      val corpusHashes = corpus.select(md5(col("text")).as("content_hash"))
      val evalGrams = graft.ops.Decontam.ngramHashes(
        corpus.filter(col("doc_id") % 7 === 0), 8)
      graft.streaming.StreamingOps.cleanStream(
          batch, corpusBands, corpusHashes, evalGrams)
        .orderBy("doc_id")
    },

    // ---- weighted training mix: per-language token budgets ---------------
    // The actual shape of a pre-training recipe ("X tokens of en, Y of
    // zh, ..."): same deterministic salted-hash fill as
    // doc_budget_sample, but each stratum gets its own budget via a
    // broadcast literal join — plan keeps the sharded two-level
    // running-sum shape (see Sampling scaladoc); strata outside the
    // budget map fall to defaultBudget=0 in BOTH engines (LEFT JOIN +
    // COALESCE in the twin).
    sql("doc_mix_sample",
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |    md5(doc_id::VARCHAR || ':sample:v1') AS smp_hash
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY smp_hash, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM d),
        |b(lang, stratum_budget) AS (VALUES
        |  ('en', CAST(4000 AS BIGINT)), ('de', CAST(2000 AS BIGINT)),
        |  ('fr', CAST(1500 AS BIGINT)), ('es', CAST(1000 AS BIGINT)),
        |  ('zh', CAST(500 AS BIGINT)))
        |SELECT doc_id, lang, n_tokens, cum_tokens,
        |  COALESCE(stratum_budget, CAST(0 AS BIGINT)) AS stratum_budget,
        |  CASE WHEN cum_tokens - n_tokens < COALESCE(stratum_budget, 0)
        |       THEN 1 ELSE 0 END AS kept
        |FROM c LEFT JOIN b USING (lang)
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.Sampling.tokenBudgetMix(
        docs(s, dir).withColumn("n_tokens",
          size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")),
        stratumCol = "lang", tokensCol = "n_tokens",
        budgets = Map("en" -> 4000L, "de" -> 2000L, "fr" -> 1500L,
          "es" -> 1000L, "zh" -> 500L))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"), col("stratum_budget"), col("kept"))
        .orderBy("doc_id")
    },

    // ---- corpus-wide top-20 word 3-grams ---------------------------------
    // Counts are map-side combinable; the global top-k executes as
    // TakeOrderedAndProject (per-partition heaps, no full sort).
    sql("doc_top_ngrams",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g3 AS (SELECT unnest(list_transform(range(1, greatest(len(w)-1, 2)),
        |         i -> array_to_string(w[i:i+2], ' '))) AS gram FROM w),
        |c AS (SELECT gram, COUNT(*) AS cnt FROM g3 GROUP BY gram)
        |SELECT gram, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS rank
        |FROM c ORDER BY cnt DESC, gram LIMIT 20""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .select(explode(expr(
          "transform(sequence(1, greatest(size(w)-2, 1)), i -> concat_ws(' ', slice(w, i, 3)))"
        )).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("gram")).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("gram"))))
    },

    // ---- sampled heavy hitters: bounded-state top n-grams -----------------
    // The 100 TB twin of doc_top_ngrams: the exact form's groupBy
    // shuffles every distinct gram (billions of keys at corpus scale);
    // this estimator moves exactly k = 4096 occurrences — a deterministic
    // bottom-k-by-md5(doc:pos) sample (TakeOrderedAndProject, the
    // PctSampleAgg rule corpus-wide) — and counts within the sample.
    // est_count = cnt·N div k in exact integer arithmetic; DKW bounds
    // sample fractions within ±2.1 % of N at k = 4096 (δ = 1e-3), tight
    // enough to rank heavy hitters. Fully replayable: the sample IS
    // ROW_NUMBER OVER (ORDER BY md5(occ), occ) <= k.
    sql("doc_heavy_hitters_sampled",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (
        |  SELECT doc_id::VARCHAR || ':' || i::VARCHAR AS occ,
        |    array_to_string(w[i:i+2], ' ') AS gram
        |  FROM w, unnest(range(1, greatest(len(w)-1, 2))) AS t(i)
        |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM occ),
        |samp AS (
        |  SELECT gram FROM occ ORDER BY md5(occ), occ LIMIT 4096
        |)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS sample_cnt,
        |  CAST(COUNT(*) AS BIGINT) * nn // 4096 AS est_count
        |FROM samp, n
        |GROUP BY gram, nn
        |ORDER BY sample_cnt DESC, gram
        |LIMIT 20""") { (s, dir) =>
      val occ = docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, greatest(size(w)-2, 1)), i -> concat_ws(' ', slice(w, i, 3)))"
        )).as(Seq("p", "gram")))
        .select(concat(col("doc_id").cast("string"), lit(":"),
          (col("p") + 1).cast("string")).as("occ"), col("gram"))
      graft.ops.Sampling.heavyHittersSampled(occ, "gram", "occ",
        k = 4096, topN = 20)
    },

    // ---- duplicate-passage detection (Lee et al. 2022 substring dedup) ---
    // Window-level duplication: every 20-token window hashed; a hash
    // seen >1 time anywhere marks its window duplicated; per doc, the
    // duplicated-window fraction + worst passage multiplicity. Global
    // counts are one map-side-combinable groupBy — no per-key windowing
    // — so a million-fold boilerplate passage cannot straggle a task.
    sql("doc_dup_passages",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |win AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 18, 2)),
        |    i -> md5(array_to_string(w[i:i+19], ' ')))) AS h
        |  FROM w),
        |dup AS (SELECT h, COUNT(*) AS cnt FROM win GROUP BY h HAVING COUNT(*) > 1)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(COUNT(d.cnt) AS BIGINT) AS n_dup_windows,
        |  ROUND(CAST(COUNT(d.cnt) AS DOUBLE) / COUNT(*), 6) AS dup_frac,
        |  CAST(COALESCE(MAX(d.cnt), 0) AS BIGINT) AS max_dup_cnt
        |FROM win LEFT JOIN dup d USING (h)
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.Dedup.dupPassages(docs(s, dir)).orderBy("doc_id")
    },

    // ---- unigram-LM perplexity-proxy quality (CCNet/Gopher LM gate) ------
    // Every doc scored by its average per-token -log2 p under an
    // add-one-smoothed top-1000 unigram model fit on the corpus itself.
    // Per-word scores are FIXED-POINT integers (round(-log2 p · 1e6) —
    // one log per distinct vocab word from exact integer ratios), so the
    // per-doc reduction is an exact BIGINT sum: order/partition/engine
    // independent; the only float division is the final average of two
    // exact integers. The ≤1000-row scored vocab broadcasts onto the
    // exploded tokens — the build side is bounded at ANY corpus size.
    sql("doc_unigram_nll",
      """WITH t2 AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''
        |), den AS (
        |  SELECT CAST(COUNT(*) + 1001 AS BIGINT) AS d FROM t2
        |), vocab AS (
        |  SELECT w,
        |    CAST(ROUND(-log2(CAST(cnt + 1 AS DOUBLE) / CAST(d AS DOUBLE)) * 1e6) AS BIGINT) AS nll
        |  FROM (SELECT w, COUNT(*) AS cnt FROM t2 GROUP BY w
        |        ORDER BY cnt DESC, w LIMIT 1000), den
        |), oov AS (
        |  SELECT CAST(ROUND(-log2(1.0 / CAST(d AS DOUBLE)) * 1e6) AS BIGINT) AS onll
        |  FROM den
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_u,
        |  CAST(COUNT(*) FILTER (v.nll IS NULL) AS BIGINT) AS n_oov,
        |  ROUND(CAST(COUNT(*) FILTER (v.nll IS NULL) AS DOUBLE) / COUNT(*), 6) AS oov_rate,
        |  CAST(SUM(COALESCE(v.nll, o.onll)) AS BIGINT) AS nll_micro_sum,
        |  ROUND(CAST(CAST(SUM(COALESCE(v.nll, o.onll)) AS BIGINT) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS avg_nll_bits
        |FROM t2 LEFT JOIN vocab v USING (w), oov o
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.TextAnalysis.unigramNll(docs(s, dir)).orderBy("doc_id")
    },

    // ---- bigram-LM quality (the order-2 member of the LM-gate family) ----
    // avg -log2 p(w_i | w_{i-1}) under an add-one-smoothed bigram model
    // over the (top-1000 + <unk>) symbol alphabet. High bigram NLL with
    // normal unigram NLL = plausible words in implausible order — the
    // shuffled/templated-text signature the unigram gate cannot see.
    // Model state is bounded: top-5000 conditional rows + a per-context
    // backoff floor (V+1 rows); per-doc sums are exact BIGINT of
    // fixed-point model rows (the doc_unigram_nll discipline). Every doc
    // appears (left join), zero-bigram docs with null rates.
    sql("doc_bigram_nll",
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, i AS pos, w[i] AS word
        |  FROM w, unnest(range(1, len(w) + 1)) AS t(i)
        |), cnts AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT word FROM cnts ORDER BY c DESC, word LIMIT 1000),
        |sym AS (
        |  SELECT t.doc_id, t.pos,
        |    CASE WHEN v.word IS NULL THEN '<unk>' ELSE t.word END AS s
        |  FROM tok t LEFT JOIN vocab v USING (word)
        |), pairs AS (
        |  SELECT a.doc_id, a.s AS p, b.s AS t
        |  FROM sym a JOIN sym b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |), bc AS (SELECT p, t, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
        |ctx AS (SELECT p, CAST(SUM(c) AS BIGINT) AS cc FROM bc GROUP BY 1),
        |top AS (SELECT p, t, c FROM bc ORDER BY c DESC, p, t LIMIT 5000),
        |model AS (
        |  SELECT tp.p, tp.t,
        |    CAST(ROUND(-log2(CAST(tp.c + 1 AS DOUBLE)
        |      / CAST(x.cc + 1001 AS DOUBLE)) * 1e6) AS BIGINT) AS m
        |  FROM top tp JOIN ctx x USING (p)
        |), fl AS (
        |  SELECT p, CAST(ROUND(-log2(1.0 / CAST(cc + 1001 AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS f
        |  FROM ctx
        |), sc AS (
        |  SELECT pr.doc_id, COALESCE(m.m, fl.f) AS m,
        |    CASE WHEN m.m IS NULL THEN 1 ELSE 0 END AS backoff
        |  FROM pairs pr
        |  LEFT JOIN model m ON m.p = pr.p AND m.t = pr.t
        |  JOIN fl ON fl.p = pr.p
        |), pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(backoff) AS BIGINT) AS n_backoff,
        |    CAST(SUM(m) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(pd.n_backoff, 0) AS n_backoff,
        |  CASE WHEN pd.n_bigrams > 0
        |       THEN ROUND(CAST(pd.n_backoff AS DOUBLE)
        |         / CAST(pd.n_bigrams AS DOUBLE), 6) END AS backoff_rate,
        |  COALESCE(pd.nll_micro_sum, 0) AS nll_micro_sum,
        |  CASE WHEN pd.n_bigrams > 0
        |       THEN ROUND(CAST(pd.nll_micro_sum AS DOUBLE)
        |         / (CAST(pd.n_bigrams AS DOUBLE) * 1e6), 6) END AS avg_nll_bits
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""") { (s, dir) =>
      graft.ops.TextAnalysis.bigramNll(docs(s, dir)).orderBy("doc_id")
    },

    // ---- Jelinek-Mercer interpolated LM gate (λ = 1/2) --------------------
    // The deployed form of perplexity gating: every bigram scores
    // −log₂(P_bi/2 + P_uni/2) in exact micro-bits — the unseen-pair floor
    // is softened by the target word's unigram mass (Jelinek & Mercer
    // 1980) instead of the uniform 1/(cc+α). Same bounded model state as
    // doc_bigram_nll (top-5000 pairs over a 1000+<unk> alphabet) plus a
    // ≤1001-row unigram broadcast and a 1-row total; each micro value is
    // rounded BEFORE the per-doc BIGINT sum, so the statistic is
    // order-free and engine-exact.
    sql("doc_interp_nll",
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, i AS pos, w[i] AS word
        |  FROM w, unnest(range(1, len(w) + 1)) AS t(i)
        |), cnts AS (SELECT word, COUNT(*) AS c FROM tok GROUP BY 1),
        |vocab AS (SELECT word FROM cnts ORDER BY c DESC, word LIMIT 1000),
        |sym AS (
        |  SELECT t.doc_id, t.pos,
        |    CASE WHEN v.word IS NULL THEN '<unk>' ELSE t.word END AS s
        |  FROM tok t LEFT JOIN vocab v USING (word)
        |), pairs AS (
        |  SELECT a.doc_id, a.s AS p, b.s AS t
        |  FROM sym a JOIN sym b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |), bc AS (SELECT p, t, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
        |ctx AS (SELECT p, CAST(SUM(c) AS BIGINT) AS cc FROM bc GROUP BY 1),
        |top AS (SELECT p, t, c FROM bc ORDER BY c DESC, p, t LIMIT 5000),
        |uni AS (SELECT s AS t, COUNT(*) AS uc FROM sym GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sym),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(ROUND(-log2(pb / 2.0 + pu / 2.0) * 1e6) AS BIGINT) AS m,
        |    backoff
        |  FROM (
        |    SELECT pr.doc_id,
        |      CAST(COALESCE(tp.c + 1, 1) AS DOUBLE)
        |        / CAST(x.cc + 1001 AS DOUBLE) AS pb,
        |      CAST(u.uc + 1 AS DOUBLE)
        |        / CAST(tot.n + 1001 AS DOUBLE) AS pu,
        |      CASE WHEN tp.c IS NULL THEN 1 ELSE 0 END AS backoff
        |    FROM pairs pr
        |    LEFT JOIN top tp ON tp.p = pr.p AND tp.t = pr.t
        |    JOIN ctx x ON x.p = pr.p
        |    JOIN uni u ON u.t = pr.t
        |    CROSS JOIN tot)
        |), pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(backoff) AS BIGINT) AS n_backoff,
        |    CAST(SUM(m) AS BIGINT) AS nll_micro_sum
        |  FROM sc GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(pd.n_backoff, 0) AS n_backoff,
        |  COALESCE(pd.nll_micro_sum, 0) AS nll_micro_sum,
        |  CASE WHEN pd.n_bigrams > 0
        |       THEN ROUND(CAST(pd.nll_micro_sum AS DOUBLE)
        |         / (CAST(pd.n_bigrams AS DOUBLE) * 1e6), 6) END AS avg_nll_bits
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""") { (s, dir) =>
      graft.ops.TextAnalysis.interpNll(docs(s, dir)).orderBy("doc_id")
    },

    // ---- temperature-tempered mixture weights ----------------------------
    // The data-recipe builder: per-source token counts → sqrt-tempered
    // sampling weights (w ∝ n^(1/2), the exponentiated-smoothing move
    // that keeps giant domains from drowning small ones) + integer token
    // budgets for a 1M-token mix. sqrt, not pow: IEEE sqrt is correctly
    // rounded in every engine, so weights are bit-reproducible. Budgets
    // feed Sampling.tokenBudgetMix (doc_mix_sample) directly.
    sql("doc_mix_weights",
      """WITH per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text, ' '),
        |                             w -> w <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT *, CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS w_micro
        |  FROM per
        |), tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w)
        |SELECT source, n_docs, n_tokens, w_micro,
        |  CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE) AS share,
        |  1000000 * w_micro // tw AS token_budget
        |FROM w, tot
        |ORDER BY source""") { (s, dir) =>
      graft.ops.Sampling.mixtureWeights(docs(s, dir), "source",
        totalBudget = 1000000L).orderBy("source")
    },

    // ---- Zipf-law corpus-health fit --------------------------------------
    // OLS of ln(count) on ln(rank) over the top-1000 words: natural text
    // sits near slope -1; templated/synthetic corpora bend away. Logs
    // are fixed-pointed to micro-BIGINTs once per rank, the five OLS
    // sums are exact integer reductions, and slope/intercept/r² compose
    // those exact ints in an identical double sequence in both engines.
    sql("doc_zipf_fit",
      """WITH t AS (
        |  SELECT w, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w ORDER BY cnt DESC, w LIMIT 1000
        |), xy AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w)
        |      AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |    CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM t
        |), s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM xy
        |), d AS (
        |  SELECT k, CAST(k AS DOUBLE) AS kd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd
        |  FROM s
        |), f AS (
        |  SELECT k, kd, sxd, syd,
        |    kd*sxyd - sxd*syd AS num,
        |    kd*sxxd - sxd*sxd AS denx,
        |    kd*syyd - syd*syd AS deny
        |  FROM d
        |)
        |SELECT k AS n_ranks, num/denx AS slope,
        |  (syd - (num/denx)*sxd) / (kd*1e6) AS intercept,
        |  (num*num) / (denx*deny) AS r2
        |FROM f""") { (s, dir) =>
      graft.ops.TextAnalysis.zipfFit(docs(s, dir))
    },

    // ---- DSIR importance weights (hashed-unigram log-ratio) --------------
    // Xie et al. 2023's importance-resampling score: how much more likely
    // each doc's hashed-unigram features are under the TARGET distribution
    // (here: the English subset) than under the raw corpus. Bucket =
    // rolling_hash(word) mod 1024 (engine-reproducible); one log per
    // bucket from exact integer counts, fixed-pointed to micro-units;
    // per-doc weights are exact BIGINT sums — the unigram-NLL discipline,
    // so the reduction is order/partition/engine independent.
    sql("doc_dsir_weights",
      """WITH toks AS (
        |  SELECT doc_id,
        |    (lang = 'en') AS t,
        |    list_reduce(list_transform(string_split(w, ''),
        |                               c -> CAST(unicode(c) AS BIGINT)),
        |                (a, b) -> (a*31 + b) % 1000000007) % 1024 AS bk
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE w <> ''
        |), stats AS (
        |  SELECT bk, COUNT(*) AS cr, COUNT(*) FILTER (t) AS ct
        |  FROM toks GROUP BY bk
        |), tot AS (
        |  SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt
        |  FROM stats
        |), lam AS (
        |  SELECT bk, CAST(ROUND(log2(
        |      (CAST(ct + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE)) /
        |      (CAST(cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE))) * 1e6)
        |    AS BIGINT) AS lr
        |  FROM stats, tot
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_d,
        |  CAST(SUM(l.lr) AS BIGINT) AS lr_micro_sum,
        |  CAST(CAST(SUM(l.lr) AS BIGINT) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS avg_lr_bits
        |FROM toks JOIN lam l USING (bk)
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      graft.ops.TextAnalysis.dsirWeights(docs(s, dir), col("lang") === "en")
        .orderBy("doc_id")
    },

    // ---- END-TO-END corpus cleaning pipeline -----------------------------
    // The full training-data prep decision in ONE declarative plan:
    // quality gate (token count + stopword ratio), repetition gate
    // (Gopher top-2-gram mass), near-dup clustering keep (MinHash-LSH
    // candidates → connected components → min-id representative, over
    // the train subset), and benchmark decontamination (8-gram overlap
    // vs the eval split). Each stage is an independently-oracled
    // operator; this composes them the way a 100 TB prep job would —
    // Catalyst fuses the four shuffle chains off ONE cached scan, the
    // decontam probe stays broadcast, and the only iterative part (CC)
    // is O(log²) rounds. Thresholds are corpus-calibrated so every gate
    // actually drops documents (quality ~15%, repetition ~7%,
    // decontam ~2%, dedup the planted near-dup tail).
    sql("doc_clean_pipeline",
      s"""$cleanPipelineCtes
        |SELECT doc_id, is_quality, not_repetitive, dedup_keep,
        |  not_contaminated, keep
        |FROM per_doc
        |ORDER BY doc_id""") { (s, dir) =>
      cleanPipelineFrame(s, dir)
        .select(col("doc_id"), col("is_quality"), col("not_repetitive"),
          col("dedup_keep"), col("not_contaminated"), col("keep"))
        .orderBy("doc_id")
    },

    // ---- pipeline monitoring: per-source attrition report ----------------
    // What an operator watches on the 100 TB job: how many docs each gate
    // drops, per source — a sudden keep-rate shift in one source is the
    // standard signal of upstream corruption or a miscalibrated gate.
    sql("doc_pipeline_report",
      s"""$cleanPipelineCtes
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(is_quality) AS BIGINT) AS n_quality,
        |  CAST(SUM(not_repetitive) AS BIGINT) AS n_not_repetitive,
        |  CAST(SUM(dedup_keep) AS BIGINT) AS n_dedup_keep,
        |  CAST(SUM(not_contaminated) AS BIGINT) AS n_not_contaminated,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS keep_rate
        |FROM per_doc
        |GROUP BY source
        |ORDER BY source""") { (s, dir) =>
      graft.ops.CleanPipeline.report(cleanPipelineFrame(s, dir))
        .orderBy("source")
    }
  )

  /** CTE prefix shared by doc_clean_pipeline and doc_pipeline_report:
    * everything up to `per_doc(doc_id, source, lang, is_quality,
    * not_repetitive, dedup_keep, not_contaminated, keep)`. Lazy because
    * `all` (declared above) captures it during object init. */
  private lazy val cleanPipelineCtes: String = {
      val ctes = minhashPairCtesOver("train")
      s"""WITH RECURSIVE train AS (
        |  SELECT * FROM documents WHERE doc_id % 7 <> 0
        |), $ctes,
        |nodes AS (
        |  SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs
        |), edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT reach.id, e.v AS r FROM reach JOIN edges e ON e.u = reach.r
        |), comp AS (
        |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
        |), qual AS (
        |  SELECT doc_id,
        |    CASE WHEN nt >= 20 AND CAST(st AS DOUBLE) / nt < 0.1
        |         THEN 1 ELSE 0 END AS is_quality
        |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |          len(list_filter(string_split(text, ' '),
        |              x -> x IN ('the', 'a'))) AS st
        |        FROM train)
        |), w2 AS (
        |  SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS w FROM train
        |), c2 AS (
        |  SELECT doc_id, nc, g, COUNT(*) AS cnt
        |  FROM (SELECT doc_id, nc, unnest(list_transform(
        |          range(1, greatest(len(w), 2)),
        |          i -> array_to_string(w[i:i+1], ' '))) AS g FROM w2)
        |  GROUP BY ALL
        |), rep AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(cnt * length(g) AS DOUBLE) / greatest(nc, 1) < 0.18
        |         THEN 1 ELSE 0 END AS not_repetitive
        |  FROM (SELECT doc_id, nc, g, cnt, ROW_NUMBER() OVER
        |          (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM c2)
        |  WHERE rn = 1
        |), dgr AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w)-6, 2)),
        |    i -> md5(array_to_string(w[i:i+7], ' '))))) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |), ev AS (SELECT DISTINCT gram FROM dgr WHERE doc_id % 7 = 0),
        |contam AS (
        |  SELECT DISTINCT d.doc_id FROM dgr d JOIN ev USING (gram)
        |  WHERE d.doc_id % 7 <> 0
        |), per_doc AS (
        |  SELECT t.doc_id AS doc_id, t.source, t.lang,
        |    q.is_quality, r.not_repetitive,
        |    CASE WHEN COALESCE(c.component, t.doc_id) = t.doc_id
        |         THEN 1 ELSE 0 END AS dedup_keep,
        |    CASE WHEN ct.doc_id IS NULL THEN 1 ELSE 0 END AS not_contaminated,
        |    CASE WHEN q.is_quality = 1 AND r.not_repetitive = 1
        |          AND COALESCE(c.component, t.doc_id) = t.doc_id
        |          AND ct.doc_id IS NULL
        |         THEN 1 ELSE 0 END AS keep
        |  FROM train t
        |  JOIN qual q ON q.doc_id = t.doc_id
        |  JOIN rep r ON r.doc_id = t.doc_id
        |  LEFT JOIN comp c ON c.id = t.doc_id
        |  LEFT JOIN contam ct ON ct.doc_id = t.doc_id
        |)""".stripMargin
  }

  /** Per-doc gate-decision frame shared by doc_clean_pipeline and
    * doc_pipeline_report — the Spark twin of `cleanPipelineCtes`. */
  private def cleanPipelineFrame(s: SparkSession, dir: String): DataFrame = {
      val d = docs(s, dir)
      // composition lives in ops.CleanPipeline (also behind `Cli clean`);
      // the eval holdout here is the registered doc_id % 7 = 0 cut. The
      // op caches the train projection once instead of four parquet
      // scans + re-splits (same contract as Dedup's shingle cache —
      // Verify/Bench clearCache between queries).
      graft.ops.CleanPipeline.decisions(
        d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0))
  }
}
