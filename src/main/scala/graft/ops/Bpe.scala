package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned byte-pair-encoding tokenizer (Sennrich et al. 2016,
  * arXiv:1508.07909) — merge training and encoding as Spark operators.
  *
  * The reference repo budgets tokens with a fixed ~4-chars/token estimate
  * (cli_wrapper/main.py:417-424) and this repo's `bpeishTokenCount` adds
  * the GPT-2 pre-tokenizer regex count; BOTH are stand-ins. A real
  * training-data pipeline learns a merge table from the corpus and
  * tokenizes with it. This operator does exactly that, shaped for scale:
  *
  *  - The ONLY corpus-scale pass is the word-frequency count (pre-tokenize
  *    + groupBy word) — map-side combinable, one shuffle of (word, n).
  *    Everything after runs on the word-frequency DICT, whose size is
  *    bounded by `dictCap` (count-desc/word-asc top-k, the same
  *    bounded-training-state move as IVF's trainCap): at 100 TB the
  *    corpus is huge but the dict the trainer iterates on is not.
  *  - The merge loop runs on the DRIVER over the collected capped dict
  *    (≤ dictCap rows, a few MB at the 100k cap — the same
  *    bounded-training-state collect as IVF's k-centroid pulls, and how
  *    single-machine BPE trainers work): per iteration an in-memory
  *    adjacent-pair count, the deterministic argmax (count desc, then
  *    pair lexicographic), one fold pass over the segmentations. ONE
  *    Spark job per training (the word count), not one shuffle +
  *    TakeOrdered round-trip per merge as in rounds ≤ 12.
  *  - Encoding never touches per-document text twice: the trained dict
  *    frame already HOLDS the final segmentation of every dict word, so
  *    encode is pre-tokenize → join against the bounded dict → per-doc
  *    aggregate. Per-document work is a hash join probe, not a merge
  *    replay. Encoding is TOTAL: words outside the capped dict segment
  *    by replaying the merge table over the corpus' distinct
  *    out-of-dict words ([[segmentWords]] — bounded per-word work,
  *    worst case ending at character symbols), so the cap bounds
  *    training state, never coverage.
  *
  * Determinism, cross-engine: the pre-tokenizer is lowercased `[a-z]+`
  * runs; a segmentation is a single-space-joined symbol string with a
  * leading space (`" l o w </w>"`); one merge (a, b) applies as a
  * left-to-right fold over the symbol list — textbook BPE semantics
  * including runs ("a a a a" + (a,a) → "aa aa"), expressed as the
  * driver/native fold here (see [[applyMerge]] for the Column form of
  * the same semantics) and `list_reduce()` in DuckDB so both engines
  * replay the identical merge sequence bit-for-bit. Ties in the pair
  * argmax break (count DESC, left ASC, right ASC) — ASCII-binary string
  * order in both engines.
  *
  * Precondition: `numMerges` must not exceed the corpus' merge capacity
  * (every word fully merged ⇒ no adjacent pairs left). The trainer fails
  * fast with the iteration number; the unrolled SQL oracle would
  * silently cascade empties instead, so registered queries keep a wide
  * margin (fixture corpora exhaust at ~105 merges; the registered
  * queries train 64).
  */
object Bpe {

  /** Pre-tokenizer: lowercased letter runs. Deliberately simple — the
    * point of the operator is the LEARNED merge table; the pre-tokenizer
    * only has to be identical across engines. */
  val WordPattern = "[a-z]+"

  /** Dict bound: training state is the top-`DefaultDictCap` words by
    * (count desc, word asc) — the IVF-trainCap move. Far above any
    * fixture vocabulary; at 100 TB it is what keeps the per-iteration
    * frame bounded. */
  val DefaultDictCap: Int = 100000

  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** (word, cnt) — the one corpus-scale pass, capped at `dictCap`. */
  def wordDict(docs: DataFrame, textCol: String, dictCap: Int): DataFrame =
    docs
      .select(explode(
        regexp_extract_all(lower(col(textCol)), lit(WordPattern), lit(0)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      // deterministic bounded dict: top-k by (cnt desc, word asc) via
      // TakeOrdered — no global window, no full sort
      .orderBy(col("cnt").desc, col("word"))
      .limit(dictCap)

  /** `" l o w </w>"`: leading space, single-spaced symbols, `</w>`
    * terminal. The leading space makes the fold's token-boundary check
    * (`acc endsWith " " + left`) safe for the first symbol too. */
  private def initSeg(word: Column): Column =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "), lit("</w>"))

  /** Symbol list of a segmentation string (drops the leading-space
    * empty). */
  def symbols(seg: Column): Column =
    filter(split(seg, " "), x => x =!= "")

  /** Apply ONE merge (a, b) → ab to a segmentation string: left-to-right
    * fold over the symbol list — when the accumulated string ends with
    * the complete token `a` and the next symbol is `b`, replace that
    * trailing token with `ab`; the merged token cannot re-merge with a
    * following `b` (its text is `ab`, not `a`), which is exactly the
    * textbook non-overlapping rule. DuckDB twin: `list_reduce` with the
    * same lambda. */
  def applyMerge(seg: Column, a: String, b: String): Column =
    aggregate(
      symbols(seg),
      lit(""),
      (acc, x) =>
        when(acc.endsWith(lit(" " + a)) && (x === lit(b)),
          concat(acc.substr(lit(1), length(acc) - lit(a.length)), lit(a + b)))
          .otherwise(concat(acc, lit(" "), x)))

  /** Train `numMerges` merges over `docs(textCol)`. Returns the ordered
    * merge table (driver-bounded: numMerges rows) and the trained dict
    * frame (word, cnt, seg) with every word's FINAL segmentation, ready
    * for [[encode]].
    *
    * Shape (round 13): the ONLY corpus-scale work is [[wordDict]] — one
    * map-side-combinable word count, capped at `dictCap`. The capped
    * dict then COLLECTS to the driver (≤ dictCap rows, a few MB at the
    * 100k cap — the same bounded-training-state collect as IVF's
    * k-centroid pulls, and exactly what single-machine BPE trainers run
    * on) and the merge loop runs in memory: per iteration an O(total
    * dict symbols) pair count, the (count desc, pair asc) argmax, and
    * one fold pass over the segmentations. The former distributed loop
    * paid 64 Spark jobs (explode + shuffle + TakeOrdered collect each)
    * plus 8 localCheckpoint materializations to train over a frame that
    * is BOUNDED by construction — pure driver-round-trip latency
    * (measured 6.1 s at sf0.1; the in-memory loop is milliseconds).
    * All arithmetic and tie-breaks are byte-identical to the previous
    * distributed form (ASCII symbols, exact long counts — BpeSpec pins
    * the whole loop against the naive reference, and every registered
    * BPE oracle hash-matches DuckDB's unrolled replay). */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      dictCap: Int = DefaultDictCap): (Seq[Merge], DataFrame) = {
    val dict = wordDict(docs, textCol, dictCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // driver-side segmentations: char symbols + </w> terminal, as symbol
    // arrays (the string form " l o w </w>" is re-joined at the end)
    var segs: Array[Array[String]] = dict.map { case (w, _) =>
      (w.map(String.valueOf) :+ "</w>").toArray
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    (1 to numMerges).foreach { i =>
      // adjacent-pair counts weighted by word count; argmax breaks ties
      // (count desc, left asc, right asc) — ASCII order, identical to
      // the former distributed orderBy and the DuckDB oracle
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      var wi = 0
      while (wi < segs.length) {
        val s = segs(wi)
        val cnt = dict(wi)._2
        var k = 0
        while (k < s.length - 1) {
          val key = (s(k), s(k + 1))
          pc(key) = pc.getOrElse(key, 0L) + cnt
          k += 1
        }
        wi += 1
      }
      require(pc.nonEmpty,
        s"BPE merge capacity exhausted at iteration $i of $numMerges — " +
          "every dict word is fully merged; lower numMerges")
      val ((a, b), c) = pc.minBy { case ((x, y), n) => (-n, x, y) }
      merges += Merge(i, a, b, c)
      // left-to-right non-overlapping fold — applyMerge's semantics
      segs = segs.map { s =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        s.foreach { x =>
          if (out.nonEmpty && out.last == a && x == b)
            out(out.size - 1) = a + b
          else out += x
        }
        out.toArray
      }
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val dictDf = dict.zip(segs).toSeq.map { case ((w, c), s) =>
      (w, c, s.map(" " + _).mkString)
    }.toDF("word", "cnt", "seg")
    (merges.toSeq, dictDf)
  }

  /** The merge table as a DataFrame: (rank, lft, rgt, merged, cnt) —
    * `merged = lft || rgt`, `cnt` the winning pair count at selection
    * time (non-increasing in rank: a merge can only create pairs whose
    * counts are bounded by pairs that were already available and not
    * chosen). */
  def mergeTable(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.left, m.right, m.left + m.right, m.count))
      .toDF("rank", "lft", "rgt", "merged", "cnt")
  }

  /** Segment arbitrary words by replaying the trained merge table: each
    * word starts at its character segmentation and folds through ALL
    * `merges` in rank order — textbook BPE inference for words the
    * bounded training dict never held. Fully distributed, no
    * corpus-scale state — the merge table is the only driver-held input
    * (numMerges rows), riding into the plan as ONE native
    * [[graft.functions.BpeReplayExpr]] reference object. The former
    * shape stacked numMerges interpreted `aggregate()` fold layers with
    * lazy localCheckpoint truncations every 8; the native replay is a
    * single codegen-friendly O(|merges| · |word|) call per row,
    * value-identical (BpeSpec pins it against
    * the naive reference; the doc_bpe_encode_oov oracle hash-matches).
    *
    * Input: a frame with a `word` column (distinct words — callers
    * dedupe first so replay cost is per distinct word, not per
    * occurrence). Returns (word, seg). */
  def segmentWords(words: DataFrame, merges: Seq[Merge]): DataFrame =
    words.select(col("word"),
      graft.functions.BpeReplayExpr.replay(col("word"),
        merges.map(m => (m.left, m.right))).as("seg"))

  /** Encode `docs(idCol, textCol)` against a trained dict: per document,
    * the total pre-tokenized word count and the total BPE token count —
    * over 100 % of words. Dict words cost one hash-join probe against
    * the BOUNDED dict (whose `seg` column already carries the fully
    * merged segmentation — no per-document merge replay); words OUTSIDE
    * the capped dict (the tail vocabulary a token-count operator exists
    * to price at 100 TB) segment by [[segmentWords]] merge-table replay
    * over the corpus' DISTINCT out-of-dict words — bounded per-word
    * work, then the same hash-join probe. A real tokenizer is total;
    * the dict cap bounds TRAINING state, never coverage.
    * Returns (idCol, n_words, n_tokens) — exactly [[encodeWithOov]]
    * minus its observability column (one definition of the word
    * stream / dict-OOV union / probe join, not two; Catalyst prunes
    * the unused `n_oov` aggregate from this projection). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      trainedDict: DataFrame, merges: Seq[Merge]): DataFrame =
    encodeWithOov(docs, idCol, textCol, trainedDict, merges).drop("n_oov")

  /** [[encode]] plus an `n_oov` column (words priced via merge-table
    * replay rather than the trained dict) — the observability column for
    * corpora where the dict cap binds. Returns (idCol, n_words,
    * n_tokens, n_oov). */
  def encodeWithOov(docs: DataFrame, idCol: String, textCol: String,
      trainedDict: DataFrame, merges: Seq[Merge]): DataFrame = {
    val wordStream = docs
      .select(col(idCol), explode(
        regexp_extract_all(lower(col(textCol)), lit(WordPattern), lit(0)))
        .as("word"))
    val dictTokens = trainedDict
      .select(col("word"), size(symbols(col("seg"))).as("n_toks"),
        lit(false).as("is_oov"))
    val oovWords = wordStream.select("word").distinct()
      .join(trainedDict.select("word"), Seq("word"), "left_anti")
    val oovTokens = segmentWords(oovWords, merges)
      .select(col("word"), size(symbols(col("seg"))).as("n_toks"),
        lit(true).as("is_oov"))
    wordStream
      .join(dictTokens.unionByName(oovTokens), "word")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("is_oov"), 1L).otherwise(0L)).as("n_oov"))
  }
}
