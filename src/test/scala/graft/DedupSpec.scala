package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** End-to-end near-dedup on the documents fixture + the extensions
  * entry point. */
class DedupSpec extends SparkSpec {

  test("star candidate edges yield the exact all-pairs components") {
    // the clustering contract: per-bucket star edges and per-bucket
    // cliques have identical connected components — pin it on the
    // fixture corpus by running CC over BOTH edge sets
    val docs = Tables(spark, SfDir, "documents")
    val viaStar = Dedup.nearDupComponents(docs)
    val pairs = Dedup.minhashCandidates(docs)
    val viaClique = docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    assert(viaStar.exceptAll(viaClique).isEmpty &&
      viaClique.exceptAll(viaStar).isEmpty,
      "star-edge components must equal all-pairs components")
  }

  test("adversarial skew probe: 90%-near-dup corpus clusters in linear " +
      "edges and bounded wall") {
    // The shape that kills the all-pairs candidate join: 45k of 50k docs
    // are tiny perturbations of ONE base text, so most of the corpus
    // lands in a single LSH bucket per band. All-pairs there is ~10^9
    // candidate pairs; the star form emits <= 4n edges and the star
    // loop's small-star step absorbs the resulting high-degree hub. The
    // probe asserts the linear edge bound, one dominating component with
    // the minimum-id representative, and a wall bound (load-sensitive,
    // overridable like PackCcSpec's).
    val wallBound: Double =
      sys.env.get("GRAFT_SCALE_WALL_SECS").map(_.toDouble).getOrElse(300.0)
    val n = 50000L
    val nDup = 45000L
    val base = (0 until 60).map(w => s"w$w").mkString(" ")
    val docs = spark.range(n).select(col("id").as("doc_id"),
      when(col("id") < nDup,
        concat(lit(base), lit(" uniq"), col("id")))
        .otherwise(expr(
          "concat_ws(' ', transform(sequence(1, 40), j -> substr(md5(concat(id, ':', j)), 1, 8)))"))
        .as("text"))
    val edges = Dedup.starCandidateEdges(docs)
    val nEdges = edges.count()
    assert(nEdges <= 4 * n,
      s"star candidate edges must stay linear, got $nEdges for $n docs")
    val t0 = System.nanoTime()
    val comp = Dedup.nearDupComponents(docs).cache()
    val byComp = comp.groupBy("component").count()
      .orderBy(col("count").desc).limit(1).collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    // the mega-cluster: almost all perturbed docs collide with the base
    // in >= 1 band (P(miss all 4 bands) ~ 1e-3), rep = min doc id = 0
    assert(byComp.getLong(0) === 0L,
      "mega-cluster representative must be the minimum doc id")
    assert(byComp.getLong(1) >= (nDup * 95) / 100,
      s"mega-cluster holds ${byComp.getLong(1)} of $nDup near-dups")
    // uniques stay singletons
    val singles = comp.filter(col("doc_id") >= nDup &&
      col("component") === col("doc_id")).count()
    assert(singles >= (n - nDup) * 95 / 100)
    comp.unpersist()
    info(f"skew probe: $secs%.1f s for CC at $n docs / 90%% one cluster " +
      f"($nEdges edges; bound $wallBound%.0f s)")
    assert(secs <= wallBound,
      f"skewed nearDupComponents took $secs%.1f s (bound $wallBound%.0f s)")
  }

  test("winnowing == naive model; shared 6-word run guarantees a shared pick") {
    import spark.implicits._
    val (k, win) = (3, 4)
    val shared = "alpha beta gamma delta epsilon zeta" // 6 = win+k-1 words
    val docsSeq = Seq(
      (1L, s"one two three four five $shared six seven"),
      (2L, s"$shared completely different tail words here indeed"),
      (3L, "tiny doc"),          // < k words: one whole-text gram
      (4L, "a b c d"))           // 2 grams < win: one clipped window
    val got = Dedup.winnowFingerprints(
        docsSeq.toDF("doc_id", "text"), k = k, win = win)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    // naive winnowing, straight from the paper (60-bit hash = the op's
    // first 15 md5 hex chars)
    def h(gram: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    }
    def naive(text: String): Set[(Long, Long)] = {
      val w = text.split(" ", -1)
      val grams = (1 to math.max(w.length - k + 1, 1))
        .map(i => i.toLong -> h(w.slice(i - 1, i - 1 + k).mkString(" ")))
      val picks = for (e <- math.min(win, grams.size) to grams.size) yield {
        val window = grams.slice(math.max(0, e - win), e)
        window.minBy { case (pos, hh) => (hh, -pos) }
      }
      picks.toSet
    }
    docsSeq.foreach { case (id, text) =>
      assert(got(id) === naive(text), s"winnow mismatch for doc $id")
    }
    // the winnowing guarantee: a shared win+k-1-word run yields at least
    // one identical selected HASH in both docs
    val hashes1 = got(1L).map(_._2)
    val hashes2 = got(2L).map(_._2)
    assert((hashes1 & hashes2).nonEmpty,
      "docs sharing a 6-word run must share a fingerprint")
    assert(got(3L).size == 1, "sub-k doc winnows its single gram")
    assert(got(4L).size == 1, "sub-win doc winnows one clipped window")
  }

  test("winnowOverlap counts distinct shared fingerprints; hot hashes drop first") {
    import spark.implicits._
    val runR = "red orange yellow green blue indigo violet umber"   // 8 words
    val runS = "apple banana cherry damson elder fig grape haw"     // 8 words
    val docsSeq = Seq(
      (1L, s"one two $runR three $runS"),
      (2L, s"$runS four five six $runR"),
      (3L, s"seven $runR eight nine ten eleven twelve thirteen"))
    val df = docsSeq.toDF("doc_id", "text")
    // naive shared counts from the fingerprint sets themselves
    val sets = Dedup.winnowFingerprints(df)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Dedup.winnowOverlap(df, minShared = 1, hotCap = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    Seq((1L, 2L), (1L, 3L), (2L, 3L)).foreach { case (a, b) =>
      val want = (sets(a) & sets(b)).size.toLong
      assert(got.getOrElse((a, b), 0L) === want, s"pair ($a,$b)")
    }
    // all three docs share runR → its fingerprints are "hot" at cap 2 and
    // drop; pair (1,2) must fall back to runS-only overlap, (1,3)/(2,3)
    // must lose their runR-derived overlap entirely
    val hotIn = sets.values.reduce(_ & _) // hashes common to ALL 3 docs
    val capped = Dedup.winnowOverlap(df, minShared = 1, hotCap = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val want12 = ((sets(1L) & sets(2L)) -- hotIn).size.toLong
    assert(capped.getOrElse((1L, 2L), 0L) === want12,
      "hot fingerprints must not count toward pairs")
    assert(!capped.contains((1L, 3L)) ||
      capped((1L, 3L)) < got((1L, 3L)), "capped overlap must shrink")
  }

  test("canonicalReps picks the longest member per component, ties to min id") {
    val docs = Tables(spark, SfDir, "documents")
    val got = Dedup.canonicalReps(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).sortBy(_._1)
    // naive model: same components, explicit driver-side argmax
    val comps = Dedup.nearDupComponents(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val lens = docs.select(col("doc_id"), length(col("text"))).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val members = comps.toSeq.groupBy(_._2)
    val want = comps.toSeq.map { case (id, c) =>
      val m = members(c).map(_._1)
      val rep = m.minBy(d => (-lens(d), d))
      (id, c, m.size.toLong, rep, if (id == rep) 1 else 0)
    }.sortBy(_._1)
    assert(got.toSeq === want, "canonicalReps must equal the naive argmax")
    // the fixture has real multi-doc clusters and at least one where the
    // longest member is NOT the min id (the case min-id keep gets wrong)
    assert(got.exists(r => r._3 > 1), "fixture must contain clusters")
    assert(got.exists(r => r._3 > 1 && r._4 != r._2),
      "fixture must exercise rep != component-min")
  }

  test("nearDedup removes exactly the verified near-duplicates") {
    val docs = Tables(spark, SfDir, "documents").cache()
    val n = docs.count()
    val pairs = Dedup.jaccardPairs(docs, 0.8).cache()
    val dupIds = pairs.select(col("doc_b")).distinct().count()
    assert(pairs.count() > 0) // the generator plants near-dups at every sf
    val deduped = Dedup.nearDedup(docs, 0.8)
    assert(deduped.count() === n - dupIds)
    // representatives (min ids of each pair) survive
    val keepIds = pairs.agg(min(col("doc_a"))).first().getLong(0)
    assert(deduped.filter(col("doc_id") === keepIds).count() === 1)
  }

  test("all-pairs verification twin fails fast past its row bound") {
    val docs = Tables(spark, SfDir, "documents")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, 0.8, maxRows = 10)
    }
    assert(e.getMessage.contains("all-pairs"))
    // and the default bound admits the fixture
    assert(Dedup.jaccardPairs(docs, 0.8).columns.contains("jaccard"))
  }

  test("simhash banded pairs == brute force, with no product in the plan") {
    import spark.implicits._
    // signatures engineered around the Hamming boundary: dup (0 vs 0),
    // 1-3 bit flips in one or several bytes, exactly-4 flips spread over
    // 4 bytes (excluded), and a far-away value
    val sigs = Seq(
      1L -> 0x00000000L, 2L -> 0x00000000L, 3L -> 0x00000001L,
      4L -> 0x00010100L, 5L -> 0x01010101L, 6L -> 0x80000003L,
      7L -> 0xF0F0F0F0L, 8L -> 0xF0F0F0F1L)
      .toDF("doc_id", "sig")
    val banded = Dedup.simhashSigPairs(sigs)
    val brute = sigs.select(col("sig").as("sig_a")).distinct()
      .crossJoin(sigs.select(col("sig").as("sig_b")).distinct())
      .filter(col("sig_a") <= col("sig_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= 3)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairSet(banded) === pairSet(brute.select("sig_a", "sig_b", "hamming")))
    // 0x00000000 vs 0x01010101 is Hamming 4 across all four bytes — the
    // one shape banding may NOT return; prove the boundary is where the
    // math says (so the test isn't vacuously comparing empty sets)
    assert(pairSet(banded).exists(_._3 == 3))
    assert(!pairSet(banded).exists(p => p._1 == 0x00000000L && p._2 == 0x01010101L))
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("LSH candidates cover all true Jaccard pairs (recall 1.0 here)") {
    val docs = Tables(spark, SfDir, "documents")
    val truth = Dedup.jaccardPairs(docs, 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cands),
      s"missed: ${(truth -- cands).take(5)}")
  }

  test("containmentEst: embedded doc scores ~1.0 where Jaccard stays low") {
    import spark.implicits._
    val words = (0 until 60).map(i => s"w$i")
    val small = words.take(12).mkString(" ")          // 10 shingles
    val big = words.mkString(" ")                     // 58, contains all 10
    val other = (100 until 160).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, other), (4L, big))
      .toDF("doc_id", "text")
    val got = Dedup.containmentEst(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getInt(4), r.getDouble(5)))).toMap
    // identical docs: every signature position matches -> J=1 ->
    // inter=(na+nb)/2=na -> containment EXACTLY 1.0
    val (na, nb, m, c) = got((1L, 4L))
    assert(na == nb && m == 16 && c == 1.0, s"identical pair: $na $nb $m $c")
    // the embedded pair must surface as a candidate and score high
    // containment despite a true Jaccard of only 10/58
    got.get((1L, 2L)).foreach { case (ga, gb, gm, gc) =>
      assert(gc > 0.5, s"embedded doc under-scored: $gc (matches $gm)")
      // and the reported estimate is exactly the documented formula
      val j = gm / 16.0
      val want = BigDecimal(j * (ga + gb) / (1.0 + j) / math.min(ga, gb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(gc - want) < 1e-9, s"estimate formula drifted: $gc vs $want")
    }
    // the unrelated doc never pairs
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("sourceOverlap == manual aggregation of candidate pairs by source") {
    val docs = Tables(spark, SfDir, "documents")
    val src = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) =>
        val (sa, sb) = (src(a), src(b))
        if (sa <= sb) (sa, sb) else (sb, sa)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === want, s"overlap matrix mismatch: $got vs $want")
    assert(got.values.sum > 0, "fixture must produce candidate pairs")
  }

  test("shingle frequency cap removes hot shingles, keeps planted dups") {
    import spark.implicits._
    val docs = Tables(spark, SfDir, "documents")
    val sh = Dedup.shingles(docs)
    // cap at the observed max doc-frequency → no-op
    val maxFreq = sh.groupBy("shingle").count()
      .agg(max(col("count"))).first().getLong(0).toInt
    assert(Dedup.capShingleFrequency(sh, maxFreq).count() === sh.count())
    // a tight cap strictly shrinks the shingle set
    val capped = Dedup.capShingleFrequency(sh, 5)
    assert(capped.count() < sh.count())
    // planted near-dups share mostly doc-unique shingles, so dedup with
    // the skew guard on still removes the same documents here
    val base = Dedup.nearDedup(docs, 0.8).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val guarded = Dedup.nearDedup(docs, 0.8,
      maxShingleFreq = Some(maxFreq)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(guarded === base)
  }

  test("MinHashAgg signature == per-seed min(md5(concat)) reference form") {
    val docs = Tables(spark, SfDir, "documents")
    val sh = Dedup.shingles(docs)
    val refCols = (0 until 16).map(i =>
      min(md5(concat(lit(s"$i|"), col("shingle")))).as(s"m$i"))
    val ref = sh.groupBy("doc_id").agg(refCols.head, refCols.tail: _*)
      .orderBy("doc_id").collect()
    val fast = Dedup.minhashSignatures(sh).orderBy("doc_id").collect()
    assert(fast.length === ref.length)
    fast.zip(ref).foreach { case (f, r) => assert(f === r) }
  }

  test("Md5Seeds element i == md5('i|' || s), including empty string") {
    import spark.implicits._
    graft.functions.TextFunctions.register(spark)
    val df = Seq("the quick brown fox", "", "héllo ünïcode é").toDF("s")
    val got = df.select(
      graft.functions.TextFunctions.md5Seeds(col("s"), 3).as("hs"),
      array((0 until 3).map(i => md5(concat(lit(s"$i|"), col("s")))): _*)
        .as("ref")).collect()
    got.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("GraftExtensions registers native functions at session build") {
    spark.sparkContext // ensure the shared context exists first
    // getOrCreate would hand back the active session (whose extensions are
    // fixed); clear it so a NEW session is built over the same context
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions: the conf-based form (spark.sql.extensions) is only
    // read when the SparkContext itself is created, which the shared
    // suite context already was
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val text = (1 to 40).map(i => s"word$i").mkString(" ")
      val r = s2.sql(
        s"""SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
           |       graft_split_text('$text', 50, 10) AS pieces""".stripMargin)
        .first()
      assert(r.getDouble(0) === 11.0)
      // the trace chunker's splitter, reached through the extensions path
      val pieces = r.getSeq[String](1)
      assert(pieces.length > 1)
      assert(pieces === graft.trace.Chunker.splitText(text, 50, 10))
      val e = s2.sql(
        "SELECT graft_ewma(x, 0.5) OVER (ORDER BY i) AS e FROM VALUES (1, 2.0), (2, 4.0) AS t(i, x)")
        .collect().map(_.getDouble(0)).toSeq
      assert(e === Seq(2.0, 3.0))
      // graft_hll injects as an aggregate through the same path
      val hll = s2.sql(
        """SELECT graft_hll(CAST(i AS STRING)).est AS est
          |FROM VALUES (1), (2), (3) AS t(i)""".stripMargin)
        .first().getDouble(0)
      assert(hll > 1.0 && hll < 6.0)
    } finally {
      // restore the shared suite session (do NOT stop the context)
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("dupSpans finds exact maximal duplicated spans; trim repairs them") {
    import spark.implicits._
    // planted geometry (k=3, minWords=6):
    //  - docs 1 and 2 share an 8-word passage mid-text (cross-doc dup:
    //    6 consecutive dup grams -> one 8-word span in each);
    //  - doc 3 repeats its own 7-word phrase (within-doc dup: two spans
    //    in the same doc);
    //  - docs 4 and 5 share only a 5-word run — BELOW minWords, no span;
    //  - doc 6 is 2 words (< k): no grams, no span, passes trim whole;
    //  - doc 7 is an exact whole-doc duplicate of doc 8 (7 words):
    //    every gram dup -> both trim to empty.
    val shared8 = "alpha beta gamma delta epsilon zeta eta theta"
    val self7 = "one two three four five six seven"
    val run5 = "red orange yellow green blue"
    val whole7 = "wa wb wc wd we wf wg"
    val docsDf = Seq(
      (1L, s"u11 u12 $shared8 u13 u14"),
      (2L, s"u21 $shared8 u22 u23 u24"),
      (3L, s"$self7 mid1 mid2 $self7"),
      (4L, s"p41 p42 $run5 p43"),
      (5L, s"$run5 p51 p52 p53"),
      (6L, "tiny doc"),
      (7L, whole7),
      (8L, whole7)
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docsDf, k = 3, minWords = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(spans === Set(
      (1L, 3L, 10L, 8L),  // shared8 at words 3-10
      (2L, 2L, 9L, 8L),   // shared8 at words 2-9
      (3L, 1L, 7L, 7L),   // self7, first occurrence
      (3L, 10L, 16L, 7L), // self7, second occurrence
      (7L, 1L, 7L, 7L),
      (8L, 1L, 7L, 7L)),
      s"got $spans")
    val trim = Dedup.dupSpanTrim(docsDf, k = 3, minWords = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(trim(1L) === ((4L, 8L, "u11 u12 u13 u14")))
    assert(trim(2L) === ((4L, 8L, "u21 u22 u23 u24")))
    assert(trim(3L) === ((2L, 14L, "mid1 mid2")))
    assert(trim(4L) === ((8L, 0L, s"p41 p42 $run5 p43")))
    assert(trim(6L) === ((2L, 0L, "tiny doc")))
    assert(trim(7L) === ((0L, 7L, "")))
    assert(trim(8L) === ((0L, 7L, "")))
    // conservation: n_kept + n_removed == word count, every doc present
    assert(trim.size === 8)
    trim.foreach { case (id, (k2, r2, _)) =>
      val n = docsDf.filter(col("doc_id") === id)
        .select(size(split(col("text"), " "))).first().getInt(0)
      assert(k2 + r2 === n.toLong, s"doc $id conservation")
    }
  }
}
