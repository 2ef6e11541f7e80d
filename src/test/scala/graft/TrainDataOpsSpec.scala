package graft

import org.apache.spark.sql.functions._

import graft.ops.{Sampling, TextAnalysis}

/** Training-data pipeline additions: repetition and language-model
  * signals, passage dedup, hash-ordered sampling. Each op is pinned
  * against a naive in-memory re-derivation. */
class TrainDataOpsSpec extends SparkSpec {

  import spark.implicits._

  test("dupPassages matches a naive windowed-hash model, incl. short docs") {
    import graft.ops.Dedup
    val boiler = (1 to 25).map(i => s"b$i").mkString(" ") // 25-token passage
    val docsSeq = Seq(
      (1L, s"$boiler unique tail one two three four five"),
      (2L, s"prefix words here $boiler and a different ending"),
      (3L, (1 to 40).map(i => s"u$i").mkString(" ")),  // all-unique doc
      (4L, "short doc"),                               // < n tokens
      (5L, "short doc"))                               // exact short dup
    val n = 20
    val got = Dedup.dupPassages(docsSeq.toDF("doc_id", "text"), n = n)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // naive model
    def windows(t: String): Seq[String] = {
      val w = t.split(" ")
      if (w.length <= n) Seq(w.mkString(" "))
      else w.sliding(n).map(_.mkString(" ")).toSeq
    }
    val all = docsSeq.flatMap { case (_, t) => windows(t) }
    val counts = all.groupBy(identity).view.mapValues(_.size).toMap
    val want = docsSeq.map { case (id, t) =>
      val ws = windows(t)
      val dup = ws.filter(counts(_) > 1)
      (id, ws.size.toLong, dup.size.toLong,
        if (dup.isEmpty) 0L else dup.map(counts).max.toLong)
    }
    assert(got.toSeq === want,
      s"dupPassages must equal the naive model\ngot:  ${got.toSeq}\nwant: $want")
    // the boilerplate really is detected: docs 1 and 2 share the 6
    // all-boiler windows; doc 3 is clean; the short dups count whole-text
    assert(got(0)._3 === 6L && got(1)._3 === 6L)
    assert(got(2)._3 === 0L)
    assert(got(3)._3 === 1L && got(3)._4 === 2L)
  }

  test("mixtureWeights matches a naive sqrt-tempered model") {
    import graft.ops.Sampling
    val docsSeq = Seq(
      (1L, "big", ("w " * 400).trim),   // 400 tokens
      (2L, "big", ("w " * 500).trim),   // big total: 900
      (3L, "mid", ("w " * 100).trim),
      (4L, "tiny", "a b c d"),          // 4 tokens
      (5L, "tiny", "e f"))              // tiny total: 6
    val got = Sampling.mixtureWeights(
        docsSeq.toDF("doc_id", "source", "text"), "source",
        totalBudget = 10000L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    val counts = Map("big" -> (2L, 900L), "mid" -> (1L, 100L),
      "tiny" -> (2L, 6L))
    val wm = counts.view.mapValues { case (_, n) =>
      BigDecimal(math.sqrt(n.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
    val tw = wm.values.sum
    val want = counts.keys.toSeq.sorted.map { s =>
      (s, counts(s)._1, counts(s)._2, wm(s), wm(s).toDouble / tw,
        10000L * wm(s) / tw)
    }
    assert(got.toSeq === want,
      s"mixtureWeights must equal the naive model\ngot: ${got.toSeq}\nwant: $want")
    // sqrt tempering upsamples the tail: tiny's share of the budget far
    // exceeds its share of raw tokens (6/1006 ≈ 0.6% → ~7%)
    val tinyBudget = got.find(_._1 == "tiny").get._6
    assert(tinyBudget > 10000L * 6 / 1006 * 5, "tempering must lift the tail")
  }

  test("heavyHittersSampled matches a naive bottom-k model; hot keys surface") {
    import graft.ops.Sampling
    // planted skew: "hot" is 50% of 20k occurrences, "warm" 25%, the
    // rest spread over 1000 cold keys
    val occs = (0 until 20000).map { i =>
      val key = if (i % 2 == 0) "hot" else if (i % 4 == 1) "warm"
        else s"cold-${i % 1000}"
      (key, s"occ-$i")
    }
    val got = Sampling.heavyHittersSampled(
        occs.toDF("gram", "occ"), "gram", "occ", k = 1024, topN = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = occs.map { case (g, o) => (g, o, md5hex(o)) }
      .sortBy(t => (t._3, t._2)).take(1024)
      .groupBy(_._1).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (g, c) => (-c, g) }.take(5)
      .map { case (g, c) => (g, c, c * 20000L / 1024L) }
    assert(got.toSeq === want, "estimator must equal the naive bottom-k model")
    // the planted heavy hitters rank first and their estimates track truth
    assert(got(0)._1 === "hot" && got(1)._1 === "warm")
    assert(math.abs(got(0)._3 - 10000L) < 1500, s"hot est ${got(0)._3}")
    assert(math.abs(got(1)._3 - 5000L) < 1500, s"warm est ${got(1)._3}")
  }

  test("shuffleShards matches a naive md5 permutation; shards are balanced") {
    import graft.ops.Sampling
    val df = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val got = Sampling.shuffleShards(df, nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keyed = (0L until 400L).map { i =>
      val k = md5hex(s"$i:shuffle:v1")
      (i, k, (java.lang.Long.parseLong(k.substring(0, 8), 16) % 8).toInt)
    }
    val want = keyed.groupBy(_._3).toSeq.flatMap { case (shard, rows) =>
      rows.sortBy(r => (r._2, r._1)).zipWithIndex
        .map { case ((i, _, _), p) => (i, shard, p + 1) }
    }.sortBy(_._1)
    assert(got.toSeq === want, "shuffleShards must equal the naive permutation")
    // md5 uniformity: every shard populated, no shard > 2x the mean
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.size === 8 && sizes.values.max <= 100,
      s"shards must be balanced: $sizes")
    // stability: a doc's address is independent of corpus membership
    val sub = Sampling.shuffleShards(
        df.filter(col("doc_id") < 200), nShards = 8)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert((0L until 200L).forall(i =>
      sub(i) == got.find(_._1 == i).get._2), "shard must not depend on corpus")
  }

  test("zipfFit matches a naive driver-side OLS on a synthetic Zipf corpus") {
    import graft.ops.TextAnalysis
    // word i repeated round(1000/i) times: a near-perfect Zipf curve
    val words = (1 to 50).flatMap(i =>
      Seq.fill(math.round(1000.0 / i).toInt)(f"w$i%02d"))
    val text = new scala.util.Random(3).shuffle(words).mkString(" ")
    val got = TextAnalysis.zipfFit(
      Seq((1L, text)).toDF("doc_id", "text"), topK = 50).collect()(0)
    // naive model, same fixed-point recipe
    val cnts = words.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(50)
    def mic(v: Double) = BigDecimal(v)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val xy = cnts.zipWithIndex.map { case ((_, c), i) =>
      (mic(math.log(i + 1.0) * 1e6), mic(math.log(c.toDouble) * 1e6))
    }
    val k = xy.size.toDouble
    val (sx, sy) = (xy.map(_._1).sum.toDouble, xy.map(_._2).sum.toDouble)
    val sxy = xy.map(p => p._1 * p._2).sum.toDouble
    val sxx = xy.map(p => p._1 * p._1).sum.toDouble
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert(got.getLong(0) === 50L)
    assert(math.abs(got.getDouble(1) - slope) < 1e-9,
      s"slope ${got.getDouble(1)} != naive $slope")
    // the planted curve IS Zipf: slope ≈ -1, tight fit
    assert(math.abs(got.getDouble(1) + 1.0) < 0.05, "slope should be ~ -1")
    assert(got.getDouble(3) > 0.999, "r2 should be ~ 1 on a planted curve")
  }

  test("bigramNll matches a naive driver-side bigram model; word order matters") {
    import graft.ops.TextAnalysis
    val docsSeq = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "mat the on sat cat the"), // same words, shuffled order
      (4L, "one"),                    // no bigrams
      (5L, ""))                       // no tokens
    val got = TextAnalysis.bigramNll(docsSeq.toDF("doc_id", "text"),
        vocabSize = 4, bigramTop = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), r.getLong(4), Option(r.get(5))))
    // naive model, same recipe: top-4 vocab, top-3 bigram rows, alpha = 5
    val toks = docsSeq.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (id, w)) }
    val vocab = toks.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(4).map(_._1).toSet
    def s(w: String) = if (vocab(w)) w else "<unk>"
    val pairs = docsSeq.flatMap { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty).map(s)
      ws.sliding(2).filter(_.length == 2).map(a => (id, a(0), a(1)))
    }
    val bc = pairs.groupBy(p => (p._2, p._3)).view.mapValues(_.size).toMap
    val ctx = pairs.groupBy(_._2).view.mapValues(_.size).toMap
    val topB = bc.toSeq.sortBy { case ((p, t), c) => (-c, p, t) }.take(3).toMap
    def mic(v: Double) = BigDecimal(v)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def nll(p: String, t: String): (Long, Boolean) = topB.get((p, t)) match {
      case Some(c) =>
        (mic(-math.log((c + 1.0) / (ctx(p) + 5.0)) / math.log(2.0) * 1e6), false)
      case None =>
        (mic(-math.log(1.0 / (ctx(p) + 5.0)) / math.log(2.0) * 1e6), true)
    }
    val want = docsSeq.map { case (id, _) =>
      val ps = pairs.filter(_._1 == id).map(p => nll(p._2, p._3))
      val (n, nb, sum) = (ps.size.toLong, ps.count(_._2).toLong, ps.map(_._1).sum)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, n, nb,
        if (n > 0) Some(r6(nb.toDouble / n)) else None,
        sum,
        if (n > 0) Some(r6(sum.toDouble / (n * 1e6))) else None)
    }
    assert(got.toSeq === want, s"bigramNll must equal the naive model\n$got")
    // the shuffled doc pays more than the natural ones: its bigrams are
    // unseen-order, so they back off to the floor
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId(3L)._6.get.asInstanceOf[Double] >
      byId(1L)._6.get.asInstanceOf[Double],
      "shuffled word order must score worse than natural order")
    assert(byId(4L)._2 === 0L && byId(4L)._4.isEmpty)
  }

  test("charEntropyStats matches a naive model; spam gates, text doesn't") {
    def naive(t: String): (Long, Long, Long) = {
      val cs = t.toSeq.map(_.toString)
      val counts = cs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val L = cs.size.toLong
      def fp(n: Long): Long = math.round(math.log(n.toDouble) / math.log(2.0) * 1e6)
      val s = counts.values.map(n => n * fp(n)).sum
      (L, counts.size.toLong, if (L > 0) fp(L) - s / L else 0L)
    }
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),     // 0 bits — gate fires
      (3L, "ababababababababababababab"),          // 1 bit — gate fires
      (4L, "aabbbbc x"),                           // hand-checkable runs
      (5L, "k"))                                   // single char: H = 0
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.charEntropyStats(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_chars_seen"),
        col("st.distinct_chars"), col("st.entropy_micro"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) === naive(t), s"doc $id ('$t') drifted from the model")
    }
    // the gate separates spam from language
    assert(got(2L)._3 === 0L)
    assert(got(3L)._3 < 2000000L, "alternating 2-symbol text is ~1 bit")
    assert(got(1L)._3 > 2000000L, "natural text is far above the gate")
    // closed form for doc 4: runs (space:1, a:2, b:4, c:1, x:1) over L=9
    val expect4 = math.round(math.log(9.0) / math.log(2.0) * 1e6) -
      (2 * math.round(math.log(2.0) / math.log(2.0) * 1e6) +
        4 * math.round(math.log(4.0) / math.log(2.0) * 1e6)) / 9
    assert(got(4L)._3 === expect4)
  }

  test("tfidfTopTerms and bm25TopDocs match naive in-memory models") {
    val docsSeq = Seq(
      (1L, "spark spark spark join window the a"),
      (2L, "join join window window window common common common common"),
      (3L, "spark join window common the"),
      (4L, "the a common common"),                // no query-term hits
      (5L, "Spark JOIN window spark, join!"))     // case/punct: [a-z]+ runs
    def toks(t: String): Seq[String] =
      "[a-z]+".r.findAllIn(t.toLowerCase).toSeq
    val n = docsSeq.size.toLong
    val tf = docsSeq.flatMap { case (id, t) =>
      toks(t).groupBy(identity).map { case (w, o) => (id, w, o.size.toLong) }
    }
    val df = tf.groupBy(_._2).view.mapValues(_.size.toLong).toMap

    // TF-IDF: exact micros tf·(round(1e6·ln((N+1)/(df+1))) + 1e6), top 3
    // by (score desc, term asc)
    def idfFp(d: Long): Long =
      math.round(math.log((n + 1.0) / (d + 1.0)) * 1e6) + 1000000L
    val wantTfidf = docsSeq.flatMap { case (id, _) =>
      tf.filter(_._1 == id)
        .map { case (_, w, f) => (w, f, f * idfFp(df(w))) }
        .sortBy { case (w, _, s) => (-s, w) }.take(3).zipWithIndex
        .map { case ((w, f, s), i) => (id, i + 1, w, f, s) }
    }.sortBy(x => (x._1, x._2))
    val gotTfidf = TextAnalysis.tfidfTopTerms(docsSeq.toDF("doc_id", "text"))
      .orderBy("doc_id", "rk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(gotTfidf.toSeq === wantTfidf,
      s"tfidf drifted\ngot:  ${gotTfidf.toSeq}\nwant: $wantTfidf")

    // BM25: exact BigInt integral quotients, summed per doc
    val terms = Seq("spark", "join", "window")
    val dl = docsSeq.map { case (id, t) => id -> toks(t).size.toLong }.toMap
    val w = dl.values.sum
    def bmIdf(d: Long): Long =
      math.round(math.log(1.0 + (n - d + 0.5) / (d + 0.5)) * 1e6)
    val wantBm = docsSeq.map(_._1).flatMap { id =>
      val hits = tf.filter(t => t._1 == id && terms.contains(t._2))
      if (hits.isEmpty) None
      else {
        val s = hits.map { case (_, t, f) =>
          (BigInt(22) * w * bmIdf(df(t)) * f /
            (BigInt(10) * w * f + BigInt(3) * w + BigInt(9) * dl(id) * n))
            .toLong
        }.sum
        Some((id, hits.size.toLong, s))
      }
    }.sortBy(x => (-x._3, x._1))
    val gotBm = TextAnalysis.bm25TopDocs(docsSeq.toDF("doc_id", "text"), terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotBm.toSeq === wantBm,
      s"bm25 drifted\ngot:  ${gotBm.toSeq}\nwant: $wantBm")
    assert(!gotBm.exists(_._1 == 4L), "a doc with no query term never ranks")
    // rank sanity: doc 1 (3× spark, rarest-weighted) beats doc 4-style
    // common-term docs; every score is positive
    assert(gotBm.forall(_._3 > 0L))
  }

  test("dsirWeights matches a naive driver-side log-ratio model") {
    import graft.ops.TextAnalysis
    val docsSeq = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog ate the bone"),
      (3L, "de", "der hund frisst den knochen"),
      (4L, "de", "die katze sitzt auf der matte"),
      (5L, "en", "der the cat hund"))      // mixed: shared buckets
    val B = 64 // small bucket count: forces real collisions
    val got = TextAnalysis.dsirWeights(
        docsSeq.toDF("doc_id", "lang", "text"), col("lang") === "en",
        buckets = B)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // naive model over the same rolling-hash buckets
    def bk(w: String): Long = graft.functions.RollingHash.hash(w) % B
    val toks = docsSeq.flatMap { case (id, lang, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (id, lang == "en", bk(w)))
    }
    val cr = toks.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val ct = toks.filter(_._2).groupBy(_._3).view
      .mapValues(_.size.toLong).toMap.withDefaultValue(0L)
    val (nr, nt) = (toks.size.toLong, toks.count(_._2).toLong)
    def lam(b: Long): Long = math.round(
      (math.log(((ct(b) + 1.0) / (nt + B)) / ((cr(b) + 1.0) / (nr + B))) /
        math.log(2.0)) * 1e6)
    val want = docsSeq.map { case (id, _, t) =>
      val bs = t.split(" ").filter(_.nonEmpty).map(bk)
      val s = bs.map(lam).sum
      (id, bs.length.toLong, s, s.toDouble / (bs.length.toDouble * 1e6))
    }
    assert(got.toSeq === want,
      s"dsirWeights must equal the naive model\ngot:  ${got.toSeq}\nwant: $want")
    // direction sanity: the English docs score above the German ones
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(Seq(1L, 2L).map(byId).min > Seq(3L, 4L).map(byId).max,
      "target-language docs must out-score off-target docs")
  }

  test("interpNll matches a naive interpolated model; unseen pair beats the bigram floor") {
    import graft.ops.TextAnalysis
    val docsSeq = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "mat the on sat cat the"), // same words, shuffled order
      (4L, "one"),                    // no bigrams
      (5L, ""))                       // no tokens
    val (v, bTop) = (4, 3)
    val got = TextAnalysis.interpNll(docsSeq.toDF("doc_id", "text"),
        vocabSize = v, bigramTop = bTop)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4))))
    val alpha = v + 1
    val toks = docsSeq.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (id, w)) }
    val vocab = toks.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(v).map(_._1).toSet
    def s(w: String) = if (vocab(w)) w else "<unk>"
    val syms = toks.map { case (id, w) => (id, s(w)) }
    val uni = syms.groupBy(_._2).view.mapValues(_.size).toMap
    val n = syms.size
    val pairs = docsSeq.flatMap { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty).map(s)
      ws.sliding(2).filter(_.length == 2).map(a => (id, a(0), a(1)))
    }
    val bc = pairs.groupBy(p => (p._2, p._3)).view.mapValues(_.size).toMap
    val ctx = pairs.groupBy(_._2).view.mapValues(_.size).toMap
    val topB = bc.toSeq.sortBy { case ((p, t), c) => (-c, p, t) }
      .take(bTop).toMap
    def mic(x: Double) = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def nll(p: String, t: String): (Long, Boolean) = {
      val (cNum, backoff) = topB.get((p, t)) match {
        case Some(c) => (c + 1.0, false)
        case None => (1.0, true)
      }
      val pb = cNum / (ctx(p) + alpha).toDouble
      val pu = (uni(t) + 1).toDouble / (n + alpha).toDouble
      (mic(-math.log(pb / 2.0 + pu / 2.0) / math.log(2.0) * 1e6), backoff)
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = docsSeq.map { case (id, _) =>
      val ps = pairs.filter(_._1 == id).map(p => nll(p._2, p._3))
      val (np, nb, sum) = (ps.size.toLong, ps.count(_._2).toLong, ps.map(_._1).sum)
      (id, np, nb, sum, if (np > 0) Some(r6(sum.toDouble / (np * 1e6))) else None)
    }
    assert(got.toSeq === want, s"interpNll must equal the naive model\n${got.toSeq}\n$want")
    // the interpolation's point: the shuffled doc's unseen pairs land on
    // common target words, so it pays LESS than the pure-bigram floor
    val bigram = TextAnalysis.bigramNll(docsSeq.toDF("doc_id", "text"),
        vocabSize = v, bigramTop = bTop)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val interp = got.map(r => r._1 -> r._4).toMap
    assert(interp(3L) < bigram(3L),
      "unigram mass must soften the unseen-pair floor for the shuffled doc")
  }

  test("unigramNll matches a naive driver-side unigram model") {
    // tiny corpus with known token counts: the naive model recomputes the
    // smoothed fixed-point scores and per-doc exact sums independently
    val docsSeq = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "zzz qqq the"),          // two OOV-ish rare words
      (4L, "the the the the"))
    val v = 3 // tiny vocab: only the top-3 words survive
    val df = docsSeq.toDF("doc_id", "text")
    val got = TextAnalysis.unigramNll(df, vocabSize = v)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // naive model
    val toks = docsSeq.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map(id -> _) }
    val total = toks.size
    val denom = (total + v + 1).toDouble
    val vocab = toks.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(v).toMap
    def nllMicro(w: String): Long =
      math.round(-(math.log((vocab.getOrElse(w, 0) + 1) / denom) /
        math.log(2.0)) * 1e6)
    val want = docsSeq.map { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      (id, ws.length.toLong, ws.count(!vocab.contains(_)).toLong,
        ws.map(nllMicro).sum)
    }
    assert(got.toSeq === want,
      s"unigram NLL must equal the naive model\ngot:  ${got.toSeq}\nwant: $want")
    // the common filler doc scores lower than the rare-word doc
    val byId = got.map(r => r._1 -> r._4.toDouble / r._2).toMap
    assert(byId(4L) < byId(3L), "all-common doc must out-score the OOV doc")
  }

  test("redact: email/ip/digit-run scrub and counts, in chain order") {
    val rows = Seq(
      (1L, "mail me at jo.doe+x@sub.ex-mail.com or 10.0.37.7 ref 12345678 ok"),
      (2L, "no pii here just words and 123456"), // 6 digits: below threshold
      (3L, "two mails a@b.co c@d.org one ip 255.1.2.3"),
      (4L, ""))
      .toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
      graft.ops.TextAnalysis.redact(col("text")).as("r"),
      graft.ops.TextAnalysis.redactCounts(col("text")).as("c"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getStruct(2).getInt(0), r.getStruct(2).getInt(1),
          r.getStruct(2).getInt(2)))).toMap
    assert(got(1L) === (("mail me at <EMAIL> or <IP> ref <NUM> ok", 1, 1, 1)))
    assert(got(2L) === (("no pii here just words and 123456", 0, 0, 0)))
    assert(got(3L) === (("two mails <EMAIL> <EMAIL> one ip <IP>", 2, 1, 0)))
    assert(got(4L) === (("", 0, 0, 0)))
  }

  test("repetitionSignals: top 2-gram and duplicate 3-gram mass match hand computation") {
    // "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] → top (a b, 3)
    // 3-grams = [a b a, b a b, a b a, b a b] → all duplicated, mass
    // = 2*5 + 2*5 = 20; n_chars = 11
    val docs = Seq((0L, "a b a b a b"), (1L, "x y z w")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs)
      .orderBy("doc_id").collect()

    val r0 = got(0)
    assert(r0.getAs[String]("top2_gram") === "a b")
    assert(r0.getAs[Long]("top2_count") === 3L)
    assert(r0.getAs[Double]("top2_frac") === 3.0 * 3 / 11)
    assert(r0.getAs[Long]("dup3_chars") === 20L)
    assert(r0.getAs[Double]("dup3_frac") === 20.0 / 11)

    val r1 = got(1)
    // all 2-grams unique → count 1, tie-break = lexicographically least
    assert(r1.getAs[Long]("top2_count") === 1L)
    assert(r1.getAs[String]("top2_gram") === "x y")
    assert(r1.getAs[Long]("dup3_chars") === 0L)
  }

  test("GramHashesExpr equals the SQL md5-gram recipe in all four modes") {
    graft.functions.TextFunctions.register(spark)
    // texts covering: normal, shorter than k, empty, consecutive spaces
    // (empty tokens), leading/trailing space, unicode
    val docs = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "ab"), (2L, ""), (3L, "a  b   c"), (4L, " x y "),
      (5L, "héllo wörld ünïcode grams here")).toDF("doc_id", "text")
      .withColumn("w", split(col("text"), " "))
    for (k <- Seq(3, 8)) {
      val clipHexSql =
        s"transform(sequence(1, greatest(size(w)-${k - 1}, 1)), " +
          s"i -> md5(concat_ws(' ', slice(w, i, $k))))"
      val streamHexSql =
        s"CASE WHEN size(w) >= $k THEN transform(sequence(1, size(w)-${k - 1}), " +
          s"i -> md5(concat_ws(' ', slice(w, i, $k)))) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END"
      def to60(inner: String): String =
        s"transform($inner, g -> CAST(conv(substring(g, 1, 15), 16, 10) AS BIGINT))"
      val got = docs.select(col("doc_id"),
        graft.functions.TextFunctions.gramMd5(col("text"), k, clip = true)
          .as("hexClip"),
        graft.functions.TextFunctions.gramHash60(col("text"), k, clip = true)
          .as("h60Clip"),
        graft.functions.TextFunctions.gramHash60(col("text"), k, clip = false)
          .as("h60Stream"),
        expr(clipHexSql).as("refHexClip"),
        expr(to60(clipHexSql)).as("ref60Clip"),
        expr(to60(streamHexSql)).as("ref60Stream"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](4),
          s"hex clip mismatch doc=${r.getLong(0)} k=$k")
        assert(r.getSeq[Long](2) === r.getSeq[Long](5),
          s"60-bit clip mismatch doc=${r.getLong(0)} k=$k")
        assert(r.getSeq[Long](3) === r.getSeq[Long](6),
          s"60-bit stream mismatch doc=${r.getLong(0)} k=$k")
      }
    }
  }

  test("graft_gram_hashes rejects a NULL or non-integer k with the builder's error") {
    graft.functions.TextFunctions.register(spark)
    def builderError(k: String): String = {
      val e = intercept[Throwable] {
        spark.sql(s"SELECT graft_gram_hashes('a b c d', $k, true, false)")
          .collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
        .getOrElse(fail(s"k = $k: no IllegalArgumentException in $e"))
    }
    assert(builderError("NULL") ===
      "graft_gram_hashes k must be a non-null int literal, got null")
    assert(builderError("3.0") ===
      "graft_gram_hashes k must be a non-null int literal, got 3.0")
  }

  test("incrementalAdmit: exact dup, near dup, and clean docs routed correctly") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (0L, base),
      (1L, "completely different content about spark shuffles and joins here"),
      (2L, "another unrelated document talking about parquet column pruning"))
      .toDF("doc_id", "text")
    val newBatch = Seq(
      (10L, base), // verbatim copy → exact dup (and LSH-near)
      // one word changed → not exact, but shares 3/4+ shingles → LSH hit
      (11L, "the quick brown fox jumps over the lazy cat again and again today"),
      (12L, "totally novel text with no overlap to the existing corpus docs"))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.incrementalAdmit(newBatch, corpus)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    assert(got(10L)._1 === 1, "verbatim copy must flag exact_dup")
    assert(got(10L)._3 === 0)
    assert(got(11L)._1 === 0)
    assert(got(11L)._2 >= 1L, "one-word edit must hit the LSH index")
    assert(got(11L)._3 === 0)
    assert(got(12L) === ((0, 0L, 1)), "novel doc must be admitted")
  }

  test("postings: df counts docs once, stop-list cap, topK cut, sorted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // "stop" appears in all 6 docs (df 6 > maxDf 5 -> dropped);
    // "rare" in docs 2,4 (repeated within doc 4 -> df still 2);
    // "wide" in all but doc 1 (df 5 == maxDf, kept; topK 3 cuts to the
    // three smallest ids); "solo" in doc 6 only. Mixed case + digits
    // exercise the [a-z]+ tokenizer.
    val docsDf = Seq(
      (1L, "stop alpha one"),
      (2L, "stop RARE wide"),
      (3L, "stop wide beta"),
      (4L, "stop rare rare wide"),
      (5L, "stop wide gamma42"),
      (6L, "stop wide solo")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.postings(docsDf, maxDf = 5, topK = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getString(2)))).toMap
    assert(!got.contains("stop"), "df > maxDf must be stop-listed")
    assert(got("rare") === ((2L, "2,4")), "within-doc repeat counts once")
    assert(got("wide") === ((5L, "2,3,4")), "topK keeps the smallest ids")
    assert(got("solo") === ((1L, "6")))
    assert(got("gamma") === ((1L, "5")), "tokenizer strips digits")
    assert(got.keySet === Set("rare", "wide", "solo", "alpha", "one",
      "beta", "gamma"), s"got ${got.keySet}")
  }
}
