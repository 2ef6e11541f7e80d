package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All are per-row
  * projections — they run inline with the scan at any scale (no shuffle).
  */
object TextAnalysis {

  /** Character-profile language identification: scores each language by
    * stopword hits + characteristic-character evidence over the text.
    * A lightweight n-gram-free heuristic in the spirit of classic langid
    * profiles; deterministic, pure Scala (usable as a UDF).
    */
  object LangId {
    val Profiles: Map[String, (Set[String], String)] = Map(
      "en" -> (Set("the", "and", "of", "to", "a", "in", "is", "that", "it",
        "for", "with", "was", "this"), ""),
      "es" -> (Set("el", "la", "de", "que", "y", "en", "un", "una", "los",
        "del", "se", "por", "con", "para", "es"), "áéíóúñ¿¡"),
      "de" -> (Set("der", "die", "das", "und", "ist", "von", "mit", "den",
        "nicht", "ein", "eine", "zu", "für", "auf"), "äöüß"),
      "fr" -> (Set("le", "la", "les", "de", "des", "et", "un", "une", "est",
        "que", "pour", "dans", "qui", "pas", "au"), "àâçéèêëîïôùûœ"),
      "it" -> (Set("il", "la", "di", "che", "e", "un", "una", "per", "non",
        "sono", "con", "del", "della"), "àèéìòù"))

    def detect(text: String): String = {
      if (text == null || text.isEmpty) return "unknown"
      // CJK scripts identify by character range, not stopwords; kana
      // presence routes Japanese (kanji-heavy but not Chinese) to "ja"
      var han = 0; var kana = 0
      var ci = 0
      while (ci < text.length) {
        val cp = text.codePointAt(ci)
        Character.UnicodeScript.of(cp) match {
          case Character.UnicodeScript.HAN => han += 1
          case Character.UnicodeScript.HIRAGANA |
               Character.UnicodeScript.KATAKANA => kana += 1
          case _ =>
        }
        ci += Character.charCount(cp)
      }
      if (kana > 0 && (han + kana) * 4 >= text.length) return "ja"
      if (han * 4 >= text.length) return "zh"
      val toks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      if (toks.isEmpty) return "unknown"
      val scores = Profiles.map { case (lang, (stops, chars)) =>
        val stopHits = toks.count(stops.contains)
        val charHits =
          if (chars.isEmpty) 0
          else text.count(c => chars.contains(c.toLower)) * 3
        lang -> (stopHits + charHits)
      }
      val (best, score) = scores.maxBy { case (l, s) => (s, l) }
      if (score == 0) "unknown" else best
    }
  }

  /** Native codegen since round 8 (graft.functions.LangIdExpr) — the
    * ScalaUDF form blocked whole-stage codegen of the enclosing
    * projection. */
  def detectLanguage(c: Column): Column =
    graft.functions.TextFunctions.langId(c)

  /** GPT-2-style pre-tokenizer regex (public BPE pattern family):
    * runs of letters, single digits, punctuation runs, whitespace runs.
    * Token COUNT approximates BPE token count for budget accounting.
    * Pure SQL (regexp) → codegen'd, and mirrorable in DuckDB. */
  val BpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+|\\s+"

  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishPattern), lit(0)))

  /** Quality-signal projection: length, token stats, stopword/punct/upper
    * ratios and a composite keep/drop flag — the standard pre-training
    * quality gate shape. */
  def qualitySignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(t, "\\s+")
    df
      .withColumn("n_chars_q", length(t))
      .withColumn("n_tokens_q", size(toks))
      .withColumn("avg_token_len",
        length(t).cast("double") / greatest(size(toks), lit(1)))
      .withColumn("punct_ratio",
        (length(t) - length(regexp_replace(t, "[\\p{Punct}]", "")))
          .cast("double") / greatest(length(t), lit(1)))
      .withColumn("upper_ratio",
        (length(t) - length(regexp_replace(t, "[A-Z]", "")))
          .cast("double") / greatest(length(t), lit(1)))
      .withColumn("stopword_ratio",
        size(filter(toks, x => lower(x).isin(
          "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")))
          .cast("double") / greatest(size(toks), lit(1)))
      .withColumn("is_quality",
        (col("n_tokens_q") >= 20) && (col("avg_token_len") between(2, 12)) &&
          (col("punct_ratio") < 0.3) && (col("upper_ratio") < 0.3))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    * character mass of the most frequent word 2-gram, and the character
    * mass of word 3-grams that occur more than once, each as a fraction
    * of the doc's total text length. High values mark boilerplate /
    * degenerate repetition that the quality gate should drop.
    *
    * All per-doc: one Generate (non-distinct n-gram explode) + one
    * two-level groupBy — map-side combinable, no cross-doc shuffle keyed
    * on content, so it scales embarrassingly. The top gram tie-breaks by
    * (count DESC, gram ASC) so the projection is deterministic under any
    * partitioning and engine.
    *
    * Returns (idCol, n_chars_r, top2_gram, top2_count, top2_frac,
    * dup3_chars, dup3_frac). */
  /** Stateless per-row twin of repetitionSignals' top-2-gram statistics:
    * struct(cnt, gram) computed by folding the doc's SORTED 2-gram array
    * with `aggregate` — no explode, no groupBy — so streaming gates can
    * project it per row with zero state. Value-identical to the batch
    * aggregate including the tie-break (count DESC, gram ASC): the fold
    * walks grams in ascending order and only a STRICTLY longer run
    * displaces the champion, so ties keep the lexicographically smallest
    * gram. StreamingSpec pins the equality on the fixture corpus. */
  def top2GramStats(textCol: Column): Column = {
    val w = split(textCol, " ")
    val g2 = transform(sequence(lit(1), greatest(size(w) - 1, lit(1))),
      i => concat_ws(" ", slice(w, i, lit(2))))
    aggregate(array_sort(g2),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("bc"), lit("").as("bg")),
      (s, x) => {
        val run2 = when(x === s("prev"), s("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run2.as("run"),
          when(run2 > s("bc"), run2).otherwise(s("bc")).as("bc"),
          when(run2 > s("bc"), x).otherwise(s("bg")).as("bg"))
      },
      s => struct(s("bc").as("cnt"), s("bg").as("gram")))
  }

  def repetitionSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // ONE per-row native pass (RepetitionStatsExpr — the CharEntropyExpr
    // move): both signals are purely per-document statistics, so the
    // former two corpus-wide gram explodes + four aggregations + join
    // shuffled every gram twice for values a compiled per-row pass
    // computes inside whole-stage codegen with ZERO exchanges. Same
    // values, same tie-break (count DESC, gram ASC), same short-doc
    // clip; rows with NULL text drop exactly as the explode did.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), length(col(textCol)).as("n_chars_r"),
        graft.functions.TextFunctions.repetitionStats(col(textCol)).as("__r"))
      .select(col(idCol), col("n_chars_r"),
        col("__r.top2_gram").as("top2_gram"),
        col("__r.top2_count").as("top2_count"),
        (col("__r.top2_count") * length(col("__r.top2_gram"))).cast("double")
          ./(greatest(col("n_chars_r"), lit(1))).as("top2_frac"),
        col("__r.dup3_chars").as("dup3_chars"),
        col("__r.dup3_chars").cast("double")
          ./(greatest(col("n_chars_r"), lit(1))).as("dup3_frac"))

  /** PII-style scrubbing patterns for training corpora, ordered — emails
    * must be rewritten before digit runs so the local part's digits don't
    * get mangled first. Deliberately RE2-compatible (no backreferences or
    * lookaround) so the exact same patterns run in Spark (Java regex) and
    * in external engines, making the scrub oracle-checkable. */
  val RedactPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("ip", """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""", "<IP>"),
    ("num", """\d{7,}""", "<NUM>"))

  /** Redacted text: every pattern replaced by its tag, applied in
    * `RedactPatterns` order. A pure per-row projection — codegen'd
    * regexp_replace chain, runs inline with the scan at any scale. */
  def redact(textCol: Column): Column =
    RedactPatterns.foldLeft(textCol) { case (c, (_, pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Per-pattern match counts (email/ip/num) as one struct column —
    * the audit signal next to the scrub: a source whose PII density
    * jumps is the upstream-corruption alarm. Counted on the PRE-redaction
    * text, in the same pattern order. */
  def redactCounts(textCol: Column): Column = {
    // count email/ip on the raw text, but count digit runs on the text
    // AFTER the earlier patterns are removed — exactly what the redact
    // chain rewrites (an email's 7+ digit local part must not double-bill
    // as a <NUM>)
    val afterEmail = regexp_replace(textCol,
      RedactPatterns(0)._2, RedactPatterns(0)._3)
    val afterIp = regexp_replace(afterEmail,
      RedactPatterns(1)._2, RedactPatterns(1)._3)
    struct(
      size(regexp_extract_all(textCol, lit(RedactPatterns(0)._2), lit(0)))
        .as("n_email"),
      size(regexp_extract_all(afterEmail, lit(RedactPatterns(1)._2), lit(0)))
        .as("n_ip"),
      size(regexp_extract_all(afterIp, lit(RedactPatterns(2)._2), lit(0)))
        .as("n_num"))
  }

  /** Unigram-LM negative log-likelihood — the perplexity-proxy quality
    * filter (the CCNet/Gopher "LM score" gate, with the corpus itself as
    * the reference model): score every document by its average per-token
    * -log2 p under an add-one-smoothed top-V unigram model fit on the
    * corpus. Low = fluent/common text; high = noise, OOV soup,
    * boilerplate in the wrong language.
    *
    * Scale shape: one explode over the corpus feeds BOTH the model
    * (top-V vocab via TakeOrderedAndProject — a bounded frame — plus a
    * 1-row total) and the scoring pass; the vocab with its precomputed
    * per-word score BROADCASTS onto the exploded tokens (a ≤V-row build
    * side at any corpus size), and the per-doc reduction is one
    * map-side-combinable groupBy. Nothing here grows with the corpus
    * except the scans.
    *
    * Cross-engine determinism: per-word scores are FIXED-POINT integers
    * — nll_micro = round(-log2((cnt+1)/(total+V+1)) · 1e6), one log per
    * DISTINCT vocab word (+ one OOV constant), computed from exact
    * integer ratios — and each doc's total is an exact BIGINT sum of
    * those integers, so the reduction is order/partition-independent;
    * the only float division is the final per-token average from two
    * exact integers. (A raw float sum of logs would drift with fold
    * order at 100 TB, the ev_streaming_gate lesson.)
    *
    * Returns (idCol, n_tokens_u, n_oov, oov_rate, nll_micro_sum,
    * avg_nll_bits). */
  def unigramNll(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", vocabSize: Int = 1000): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
    // ONE model-side explode: the word-count frame feeds both the top-V
    // vocab and (as sum of counts) the total-token denominator, so the
    // two branches share the groupBy exchange (ReusedExchange in the
    // plan) instead of re-scanning the corpus; the scoring pass below is
    // the only other explode
    val counts = toks.groupBy("__w").agg(count(lit(1)).as("__cnt"))
    // denominator D = total + V + 1 (add-one smoothing over the top-V
    // vocab + one OOV bucket)
    val denom = counts.agg(
      (sum(col("__cnt")) + vocabSize + 1).cast("long").as("__denom"))
    val vocab = counts
      .orderBy(col("__cnt").desc, col("__w"))
      .limit(vocabSize)
      .crossJoin(broadcast(denom))
      .select(col("__w"),
        round(-log2((col("__cnt") + 1).cast("double") /
          col("__denom").cast("double")) * 1e6).cast("long")
          .as("__nll_micro"))
    val oov = denom.select(
      round(-log2(lit(1.0) / col("__denom").cast("double")) * 1e6)
        .cast("long").as("__oov_micro"))
    toks
      .join(broadcast(vocab), Seq("__w"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens_u"),
        count(when(col("__nll_micro").isNull, 1)).as("n_oov"),
        sum(coalesce(col("__nll_micro"), col("__oov_micro")))
          .cast("long").as("nll_micro_sum"))
      .select(col(idCol), col("n_tokens_u"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens_u"), 6)
          .as("oov_rate"),
        col("nll_micro_sum"),
        round(col("nll_micro_sum").cast("double") /
          (col("n_tokens_u").cast("double") * 1e6), 6).as("avg_nll_bits"))
  }

  /** Bigram-LM quality scoring — one order up from [[unigramNll]] (the
    * honest in-engine approximation of CCNet's KenLM filter): every doc
    * scored by average -log2 p(w_i | w_{i-1}) under an add-one-smoothed
    * bigram model fit on the corpus itself, over a (vocabSize + <unk>)
    * symbol alphabet. A high bigram NLL with a normal unigram NLL is the
    * signature of shuffled/templated text — plausible words in
    * implausible order — which the unigram filter cannot see.
    *
    * Model state is BOUNDED by construction: the conditional table keeps
    * only the top `bigramTop` bigrams (ties by pair); everything else
    * backs off to the smoothed floor 1/(c(prev) + V + 1), which depends
    * only on prev — so the broadcast model is bigramTop + (V+1) rows no
    * matter the corpus. Exactness is the [[unigramNll]] discipline: one
    * log per MODEL ROW from exact integer counts, fixed-pointed to
    * micro-units; per-doc sums are exact BIGINT. Pairs come from an
    * equi-self-join on (doc, pos) — no window over the corpus.
    *
    * Returns (idCol, n_bigrams, n_backoff, backoff_rate, nll_micro_sum,
    * avg_nll_bits) — null avg for docs with < 2 tokens. */
  def bigramNll(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", vocabSize: Int = 1000,
      bigramTop: Int = 5000): DataFrame = {
    val alpha = vocabSize + 1 // symbol alphabet: top-V + <unk>
    val toks = df.select(col(idCol),
      explode(filter(split(col(textCol), " "), w => w =!= "")).as("__w"))
    val counts = toks.groupBy("__w").agg(count(lit(1)).as("__c"))
    val vocab = counts.orderBy(col("__c").desc, col("__w"))
      .limit(vocabSize).select(col("__w"), lit(1).as("__v"))
    // pairs feeds BOTH the model build (bc → ctx/top) and the scoring
    // pass — cached (narrow: id, prev, next) so its subtree runs once,
    // not once per consumer. Adjacent pairs come straight off each
    // row's word ARRAY (zip of the array with its shift — one Generate)
    // and map to symbols via two broadcast vocab probes; the former
    // shape posexploded the corpus and equi-self-joined it on
    // (doc, pos) — a corpus-wide shuffle of every token, twice, to
    // reconstruct adjacency the row already holds. The caller
    // unpersists the cache when done.
    val pairs = adjacentPairs(df, idCol, textCol)
      .join(broadcast(vocab.select(col("__w").as("__pr"),
        col("__v").as("__vp"))), Seq("__pr"), "left")
      .join(broadcast(vocab.select(col("__w").as("__tr"),
        col("__v").as("__vt"))), Seq("__tr"), "left")
      .select(col(idCol),
        when(col("__vp").isNull, lit("<unk>")).otherwise(col("__pr"))
          .as("__p"),
        when(col("__vt").isNull, lit("<unk>")).otherwise(col("__tr"))
          .as("__t"))
      .cache()
    val bc = pairs.groupBy("__p", "__t").agg(count(lit(1)).as("__c"))
    val ctx = bc.groupBy("__p").agg(sum(col("__c")).cast("long").as("__cc"))
    val top = bc.orderBy(col("__c").desc, col("__p"), col("__t"))
      .limit(bigramTop)
      .join(broadcast(ctx), Seq("__p"))
      .select(col("__p"), col("__t"),
        round(-log2((col("__c") + 1).cast("double") /
          (col("__cc") + alpha).cast("double")) * 1e6).cast("long")
          .as("__m"))
    val floorNll = ctx.select(col("__p"),
      round(-log2(lit(1.0) / (col("__cc") + alpha).cast("double")) * 1e6)
        .cast("long").as("__f"))
    val perDoc = pairs
      .join(broadcast(top), Seq("__p", "__t"), "left")
      .join(broadcast(floorNll), Seq("__p"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("__m").isNull, 1)).as("n_backoff"),
        sum(coalesce(col("__m"), col("__f"))).cast("long")
          .as("nll_micro_sum"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        when(col("n_bigrams") > 0,
          round(col("n_backoff").cast("double") /
            col("n_bigrams").cast("double"), 6)).as("backoff_rate"),
        coalesce(col("nll_micro_sum"), lit(0L)).as("nll_micro_sum"),
        when(col("n_bigrams") > 0,
          round(col("nll_micro_sum").cast("double") /
            (col("n_bigrams").cast("double") * 1e6), 6)).as("avg_nll_bits"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): each document scored by
    * how much more likely its hashed-unigram features are under a TARGET
    * distribution than under the raw-corpus distribution — the standard
    * way to upsample "looks like the target domain" data at pretraining
    * scale without training a classifier. Feature = rolling_hash(word)
    * mod `buckets` (the engine-reproducible polynomial hash, so the
    * bucketing replays in any engine); bucket log-ratios
    * log2(p_target/p_corpus) use add-one smoothing on both sides.
    *
    * Exactness at scale, the [[unigramNll]] discipline: ONE log per
    * bucket from exact integer counts, fixed-pointed to micro-units
    * (round(λ·1e6) as BIGINT); each doc's weight is an exact integer sum
    * of those — order/partition/engine independent — and the only float
    * division is the final per-token average. Shape: two corpus explodes
    * (model + scoring), a ≤`buckets`-row broadcast between them; nothing
    * else grows with the corpus.
    *
    * Returns (idCol, n_tokens_d, lr_micro_sum, avg_lr_bits) where
    * positive avg_lr_bits means "more target-like than the corpus
    * average". */
  def dsirWeights(df: DataFrame, isTarget: Column, buckets: Int = 1024,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.TextFunctions.register(df.sparkSession)
    val toks = df
      .select(col(idCol), isTarget.cast("boolean").as("__t"),
        explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .select(col(idCol), col("__t"),
        pmod(graft.functions.TextFunctions.rollingHash(col("__w")),
          lit(buckets.toLong)).as("__bk"))
    // bucket-level model: corpus + target counts in ONE pass; every
    // token's bucket appears here by construction (target ⊆ corpus)
    val stats = toks.groupBy("__bk").agg(
      count(lit(1)).as("__cr"),
      count(when(col("__t"), 1)).as("__ct"))
    val totals = stats.agg(
      sum(col("__cr")).cast("long").as("__nr"),
      sum(col("__ct")).cast("long").as("__nt"))
    val lambda = stats.crossJoin(broadcast(totals))
      .select(col("__bk"),
        round(log2(((col("__ct") + 1).cast("double") /
            (col("__nt") + buckets).cast("double")) /
          ((col("__cr") + 1).cast("double") /
            (col("__nr") + buckets).cast("double"))) * 1e6)
          .cast("long").as("__lr_micro"))
    toks
      .join(broadcast(lambda), Seq("__bk"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens_d"),
        sum(col("__lr_micro")).cast("long").as("lr_micro_sum"))
      .select(col(idCol), col("n_tokens_d"), col("lr_micro_sum"),
        // RAW IEEE division of two exact integers — correctly rounded and
        // engine-identical. ROUND(x, 6) here is a half-way-tie hazard
        // (sum/n landing on …5 flips per engine's tie rule), and -0.0
        // cannot arise without rounding (an all-zero sum divides to +0.0)
        (col("lr_micro_sum").cast("double") /
          (col("n_tokens_d").cast("double") * 1e6)).as("avg_lr_bits"))
  }

  /** Zipf-law fit over the corpus rank-frequency curve — the classic
    * corpus-health check (natural text fits ln f ≈ c − s·ln r with
    * s ≈ 1; heavily templated/synthetic corpora bend away from it).
    * OLS of ln(count) on ln(rank) over the top-`topK` words.
    *
    * Exactness: each of the ≤topK (rank, count) points fixed-points its
    * logs to micro-units ONCE (x = round(ln r·1e6), y = round(ln cnt·1e6)
    * as BIGINT), the five OLS sums are exact integer reductions
    * (order/partition independent; magnitudes bounded by topK·(ln n·1e6)²
    * < 2^63), and the slope/intercept/r² compose those exact sums in a
    * fixed double-arithmetic sequence — k·Σxy can exceed 2^63, so the
    * COMPOSITION is double, but from deterministically-cast exact ints.
    * The rank window sorts only the topK-row frame, never the corpus.
    * Returns one row (n_ranks, slope, intercept, r2). */
  def zipfFit(df: DataFrame, textCol: String = "text",
      topK: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__w"))
      .limit(topK)
    val xy = counts
      .withColumn("__r", row_number().over(
        Window.orderBy(col("__cnt").desc, col("__w"))))
      .select(
        round(log(col("__r").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("__cnt").cast("double")) * 1e6).cast("long").as("y"))
    val sums = xy.agg(
      count(lit(1)).cast("long").as("k"),
      sum(col("x")).cast("long").as("sx"),
      sum(col("y")).cast("long").as("sy"),
      sum(col("x") * col("y")).cast("long").as("sxy"),
      sum(col("x") * col("x")).cast("long").as("sxx"),
      sum(col("y") * col("y")).cast("long").as("syy"))
    val kD = col("k").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = kD * d("sxy") - d("sx") * d("sy")
    val denX = kD * d("sxx") - d("sx") * d("sx")
    val denY = kD * d("syy") - d("sy") * d("sy")
    sums.select(
      col("k").as("n_ranks"),
      (num / denX).as("slope"),
      ((d("sy") - (num / denX) * d("sx")) / (kD * 1e6)).as("intercept"),
      ((num * num) / (denX * denY)).as("r2"))
  }

  /** Words of a text row: lowercased `[a-z]+` runs. */
  private def words(textCol: Column): Column =
    regexp_extract_all(lower(textCol), lit("[a-z]+"), lit(0))

  /** Per-row Shannon CHARACTER entropy in exact micro-bits — the
    * gibberish/encoding-noise quality signal (a run-amok "aaaa…" or a
    * base64 blob both sit far from natural text's ~4 bits/char).
    * Identity used: H = log2(L) − (1/L)·Σ n_c·log2(n_c), with every
    * log2 micro-rounded to an integer (the zipfFit convention — 1-ulp
    * engine differences vanish under the rounding) and the final divide
    * INTEGRAL, so the statistic is an exact BIGINT in any engine.
    *
    * Scale shape: a pure per-row projection backed by the NATIVE
    * [[graft.functions.CharEntropyExpr]] — one compiled O(L) pass per
    * row inside whole-stage codegen, no explode, no shuffle; runs
    * inline with the scan at any corpus size. (The first cut was a
    * sorted-char-array `aggregate()` fold — value-identical, but
    * higher-order functions interpret at ~5 µs/char and the fixture
    * corpus alone cost 10.7 s; the native expression is ~ns/char.)
    * The DuckDB twin computes the same counts via unnest + GROUP BY —
    * equality is on values, not plans. ASCII-safe; on astral text the
    * expression counts UTF-16 units where DuckDB splits codepoints.
    * Returns struct(n_chars_seen, distinct_chars, entropy_micro). */
  def charEntropyStats(textCol: Column): Column = {
    val st = graft.functions.TextFunctions.charEntropy(textCol)
    struct(element_at(st, 1).as("n_chars_seen"),
      element_at(st, 2).as("distinct_chars"),
      element_at(st, 3).as("entropy_micro"))
  }

  /** Micro-fixed-point smooth IDF: round(1e6·ln((N+1)/(df+1))) + 1e6 —
    * ln is 1-ulp-stable across engines only after the micro rounding
    * (the zipfFit convention), and every downstream score stays an
    * exact BIGINT so rankings can never flip on float summation order. */
  private def idfFp(n: Column, df: Column): Column =
    round(log((n.cast("double") + 1.0) / (df.cast("double") + 1.0)) * 1e6)
      .cast("long") + lit(1000000L)

  /** Per-document top-k terms by TF-IDF — the relevance profile a
    * training-data pipeline uses for topic mixing and probe retrieval.
    *
    * Scale shape: one corpus pass explodes words into (doc, word, tf)
    * (map-side combinable groupBy); document frequencies are a SECOND
    * aggregate of that same frame (vocab-sized output), joined back on
    * the word key — a vocab-bounded shuffle, never a corpus-squared one;
    * the corpus count rides in as a broadcast 1-row cross join. The
    * rank window partitions by doc_id (bounded rows per doc — never a
    * global sort). Scores are EXACT integers: micros(idf) · tf, so the
    * (score desc, term asc) rank order replays identically in any
    * engine; `score_micro` is the exact fixed-point value.
    * Returns (idCol, rk, term, tf, score_micro). */
  def tfidfTopTerms(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n"))
    tf.join(dfreq, "term")
      .join(broadcast(n))
      .withColumn("score_micro", col("tf") * idfFp(col("n"), col("df")))
      .withColumn("rk", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("score_micro").desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tf"),
        col("score_micro"))
  }

  /** BM25 document ranking for a FIXED query-term set (Robertson/
    * Spärck Jones; k1 = 1.2, b = 0.75 folded into exact integer
    * arithmetic) — the retrieval scorer of the dedup/decontam probe
    * loop.
    *
    * Per term: score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * With W = Σdl and N = #docs (avgdl = W/N), multiplying through by
    * 10·W turns the denominator into the exact integer
    * 10·W·tf + 3·W + 9·dl·N, so the per-term score in micros is the
    * exact integral quotient 22·W·idf_fp·tf div (10·W·tf + 3·W + 9·dl·N)
    * — computed in DECIMAL(38,0) so corpus-scale W cannot overflow —
    * and the per-doc total is an exact BIGINT sum: rank order is
    * engine-independent by construction, no float ever enters.
    *
    * Scale shape: `terms` is a literal handful, so tf filters BEFORE its
    * groupBy (the per-doc frame is |terms|-bounded); dl is one map-side
    * combinable count per doc; W/N/df ride as broadcast 1-row / |terms|-
    * row frames. Output is top-`limit` by (score desc, id asc).
    * Returns (idCol, n_terms, score_micro). */
  def bm25TopDocs(df: DataFrame, terms: Seq[String],
      idCol: String = "doc_id", textCol: String = "text",
      limit: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val w = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    val dl = w.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val tot = dl.agg(sum(col("dl")).cast("long").as("w_total"),
      count(lit(1)).cast("long").as("n"))
    val tf = w.filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tf
      .join(broadcast(dfreq), "term")
      .join(broadcast(tot))
      .join(dl, idCol)
      // BM25's own idf — ln(1 + (N − df + 0.5)/(df + 0.5)) — in micros
      .withColumn("idf_fp",
        round(log(lit(1.0) + (col("n").cast("double") -
          col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5)) * 1e6).cast("long"))
      // SQL `div` (IntegralDivide): the EXACT integral quotient — a
      // decimal true-divide would round at result scale and a floor of
      // it could cross an integer boundary
      .withColumn("s", expr(
        """CAST((CAST(22 AS DECIMAL(38,0)) * w_total * idf_fp * tf) div
          |(CAST(10 AS DECIMAL(38,0)) * w_total * tf +
          | CAST(3 AS DECIMAL(38,0)) * w_total +
          | CAST(9 AS DECIMAL(38,0)) * dl * n) AS BIGINT)""".stripMargin))
    perTerm.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("s")).cast("long").as("score_micro"))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(limit)
  }

  /** RAW adjacent word pairs per row — (idCol, __pr, __tr), one per
    * consecutive token pair of the row's nonempty-word array. One
    * Generate off a zip of the array with its own shift; no positional
    * explode, no (doc, pos) self-join. Shared by [[bigramNll]] /
    * [[interpNll]]. */
  private def adjacentPairs(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val wf = filter(split(col(textCol), " "), w => w =!= "")
    // slice lengths clamp at 0 so zero/one-token docs yield no pairs
    // (sequence() would count DOWN on an empty range)
    val prs = zip_with(
      slice(wf, lit(1), greatest(size(wf) - 1, lit(0))),
      slice(wf, lit(2), greatest(size(wf) - 1, lit(0))),
      (x, y) => struct(x.as("pr"), y.as("tr")))
    df.select(col(idCol), explode(prs).as("__pt"))
      .select(col(idCol), col("__pt.pr").as("__pr"),
        col("__pt.tr").as("__tr"))
  }

  /** Jelinek-Mercer interpolated LM scoring (λ = 1/2): every bigram is
    * scored −log₂(P_bi/2 + P_uni/2) in exact micro-bits, where P_bi is
    * the bounded bigram model of [[bigramNll]] (top-`bigramTop` pairs
    * add-one smoothed over the top-`vocabSize`+<unk> alphabet, floor
    * 1/(cc+α) past the cap) and P_uni the add-one unigram over the same
    * alphabet. Interpolation is THE fix for the pure bigram's harsh
    * backoff floor — an unseen pair with a common target word scores
    * near its unigram mass instead of the uniform floor — and is what
    * perplexity-gating pipelines actually deploy (Jelinek & Mercer 1980).
    *
    * Scale shape: identical to [[bigramNll]] (one cached (id, p, t) pair
    * frame feeds model build and scoring) plus a ≤(V+1)-row unigram
    * broadcast and a 1-row total broadcast; the per-pair math is a
    * projection. Every micro value is rounded BEFORE the per-doc BIGINT
    * sum, so results are order-free and engine-exact. */
  def interpNll(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", vocabSize: Int = 1000,
      bigramTop: Int = 5000): DataFrame = {
    val alpha = vocabSize + 1
    val toks = df.select(col(idCol),
      explode(filter(split(col(textCol), " "), w => w =!= "")).as("__w"))
    val counts = toks.groupBy("__w").agg(count(lit(1)).as("__c"))
    val vocab = counts.orderBy(col("__c").desc, col("__w"))
      .limit(vocabSize).select(col("__w"), lit(1).as("__v"))
    // adjacent pairs off the word array + two broadcast vocab probes —
    // see bigramNll; the (doc, pos) self-join this replaces shuffled
    // every corpus token twice
    val pairs = adjacentPairs(df, idCol, textCol)
      .join(broadcast(vocab.select(col("__w").as("__pr"),
        col("__v").as("__vp"))), Seq("__pr"), "left")
      .join(broadcast(vocab.select(col("__w").as("__tr"),
        col("__v").as("__vt"))), Seq("__tr"), "left")
      .select(col(idCol),
        when(col("__vp").isNull, lit("<unk>")).otherwise(col("__pr"))
          .as("__p"),
        when(col("__vt").isNull, lit("<unk>")).otherwise(col("__tr"))
          .as("__t"))
      .cache()
    val bc = pairs.groupBy("__p", "__t").agg(count(lit(1)).as("__c"))
    val ctx = bc.groupBy("__p").agg(sum(col("__c")).cast("long").as("__cc"))
    val top = bc.orderBy(col("__c").desc, col("__p"), col("__t"))
      .limit(bigramTop).select(col("__p"), col("__t"), col("__c"))
    // the symbol-level unigram table and total derive from the word
    // COUNTS frame (vocab-bounded: in-vocab words keep their count, all
    // out-of-vocab mass folds into <unk> via a union + re-aggregate) —
    // the former shape re-exploded and re-shuffled the whole corpus to
    // count the same symbols
    val uni = counts
      .join(broadcast(vocab), Seq("__w"), "left")
      .select(when(col("__v").isNull, lit("<unk>")).otherwise(col("__w"))
        .as("__t"), col("__c"))
      .groupBy("__t")
      .agg(sum(col("__c")).cast("long").as("__uc"))
    val tot = counts.agg(sum(col("__c")).cast("long").as("__n"))
    val perDoc = pairs
      .join(broadcast(top), Seq("__p", "__t"), "left")
      .join(broadcast(ctx), Seq("__p"))
      .join(broadcast(uni), Seq("__t"))
      .crossJoin(broadcast(tot))
      .withColumn("__pb",
        coalesce((col("__c") + 1).cast("double"), lit(1.0)) /
          (col("__cc") + alpha).cast("double"))
      .withColumn("__pu",
        (col("__uc") + 1).cast("double") /
          (col("__n") + alpha).cast("double"))
      .withColumn("__m",
        round(-log2(col("__pb") / 2.0 + col("__pu") / 2.0) * 1e6)
          .cast("long"))
      .withColumn("__backoff", when(col("__c").isNull, 1L).otherwise(0L))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__backoff")).cast("long").as("n_backoff"),
        sum(col("__m")).cast("long").as("nll_micro_sum"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("nll_micro_sum"), lit(0L)).as("nll_micro_sum"),
        when(col("n_bigrams") > 0,
          round(col("nll_micro_sum").cast("double") /
            (col("n_bigrams").cast("double") * 1e6), 6)).as("avg_nll_bits"))
  }

  /** Inverted-index build with bounded posting lists — the
    * tail-term retrieval index the BM25/decontamination probes consume
    * upstream. Per term: its document frequency and the first `topK`
    * doc ids (ascending — deterministic, and the id order doubles as
    * recency/priority order when ids are assigned monotonically).
    *
    * Terms with df > `maxDf` are DYNAMICALLY STOP-LISTED before any
    * per-term work — the practical indexing rule (a term in half the
    * corpus has no retrieval value and its posting list is the hot key
    * that straggles index builds; the same reasoning as the winnowing
    * hot cap). That bound makes the per-term window group ≤ maxDf rows
    * regardless of corpus size — no stop-word key can straggle a task.
    * Postings are emitted comma-joined (exact, engine-neutral).
    *
    * Returns (term, df, postings). */
  def postings(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxDf: Int = 50, topK: Int = 10): DataFrame = {
    require(maxDf >= 1 && topK >= 1,
      s"maxDf and topK must be >= 1, got $maxDf/$topK")
    // the cast to long must be lossless: a non-numeric id column would
    // cast to null and silently collapse every doc onto one null id
    df.schema.find(_.name == idCol).map(_.dataType).foreach { t =>
      import org.apache.spark.sql.types._
      val integral = t match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(integral,
        s"postings needs an integral id column, got $idCol: ${t.sql}")
    }
    val td = df.select(col(idCol).cast("long").as("doc_id"),
        explode(words(col(textCol))).as("term"))
      .distinct()
    val dfc = td.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // after the dfc semi-bound every surviving term holds ≤ maxDf rows,
    // so the topK cut is a plain sort+slice INSIDE one aggregate — the
    // former row_number window paid a per-partition sort plus a second
    // aggregation for the same comma-joined prefix
    td.join(dfc, "term")
      .groupBy("term", "df")
      .agg(array_join(expr(
        s"transform(slice(array_sort(collect_list(doc_id)), 1, $topK), " +
          "x -> CAST(x AS STRING))"),
        ",").as("postings"))
      .select("term", "df", "postings")
  }
}
