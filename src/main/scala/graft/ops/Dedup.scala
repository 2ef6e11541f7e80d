package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication library for document corpora: exact content hash,
  * word-shingle Jaccard, and MinHash-LSH. All hashing is
  * md5/xxhash based — deterministic under any partitioning and
  * reproducible across engines.
  *
  * Caching contract: jaccardPairs / minhashCandidates / nearDedup cache
  * the shingle frame for their internal self-joins and leave it cached
  * for plan reuse within the action; call `spark.catalog.clearCache()`
  * (or unpersist) when a long-lived session is done with a corpus.
  */
object Dedup {

  /** Distinct word 3-gram shingle ARRAY per doc; short docs yield one
    * shingle of the whole text. Doc-level form so consumers that only
    * need per-doc set sizes can take size(shingles) map-side instead of
    * re-aggregating the exploded frame. */
  def shingleArrays(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("w", split(col(textCol), " "))
      .select(col(idCol).as("doc_id"),
        array_distinct(expr(
          "transform(sequence(1, greatest(size(w)-2, 1)), i -> concat_ws(' ', slice(w, i, 3)))"
        )).as("shingles"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * — the MOSS algorithm): hash every word k-gram, slide a window of
    * `win` consecutive gram hashes, keep each window's minimum (ties to
    * the RIGHTMOST position — the paper's rule), dedupe the picks. The
    * guarantee: any shared run of win+k-1 words between two documents
    * yields at least one IDENTICAL selected (hash) fingerprint, at
    * density ~2/(win+1) instead of every gram — the local-similarity
    * detector plagiarism/citation pipelines deploy.
    *
    * Scale shape: per-row gram explode (no fan-out, no joins), then one
    * sliding window over `partitionBy(doc_id)`: each document's whole
    * gram stream is sorted inside one task, so the skew bound is the
    * largest document (its gram count), not `win`; parallelism is
    * across documents. Hashes are md5-derived so any engine re-derives
    * them: the first 15 hex chars = 60 bits, always-positive BIGINT. The
    * width matters at corpus scale — a 32-bit hash collides random
    * unrelated grams past ~77k distinct grams (birthday bound),
    * inflating winnowOverlap's shared_fps with false pairs the hot cap
    * cannot catch; 60 bits pushes the bound past 10⁹ distinct grams.
    * HASH-VERSION BREAK (round 11): the width change 32 → 60 bits means
    * fingerprints persisted by earlier library versions (e.g. admission
    * state keyed on the old 32-bit `h`) are known-stale, not quietly
    * disjoint — downstream
    * state keyed on old hashes must be rebuilt from text, and any
    * future width change carries the same contract.
    * Short docs (< win grams) winnow their single clipped window.
    * Returns (doc_id, pos, h) — 1-based gram position + selected hash. */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, win: Int = 4): DataFrame = {
    require(k >= 1 && win >= 1, s"k and win must be >= 1, got k=$k win=$win")
    // gram hashes in one native pass (GramHashesExpr: zero-copy byte
    // slices, digest bits extracted directly — no per-gram string/hex/
    // conv allocations); clip mode = the short-doc single-gram rule
    val g = docs
      .withColumn("__gh",
        graft.functions.TextFunctions.gramHash60(col(textCol), k, clip = true))
      .select(col(idCol).as("doc_id"), size(col("__gh")).as("gcnt"),
        posexplode(col("__gh")).as(Seq("p0", "h")))
      .withColumn("pos", col("p0") + 1)
    // sliding-window min over the per-doc gram stream: the row at
    // pos = e IS window-end e (gram positions are contiguous 1..gcnt),
    // and rowsBetween(-(win-1), 0) covers exactly that window's grams
    // (clipped at the doc start — the short-doc window). The pick is the
    // min (h, -pos) struct: smallest hash, RIGHTMOST position on ties
    // (the paper's rule). One shuffle of 1× the gram stream + one
    // per-doc sort — the former explode-to-window-ends shape shuffled
    // win× the grams into a hash aggregate (bench-regressed ~15% at
    // sf0.1) and the shape before it paid a per-(doc, end) row_number
    // sort over the same fan-out.
    val pickW = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(win - 1), 0)
    g.withColumn("pick",
        min(struct(col("h"), (-col("pos")).as("np"))).over(pickW))
      .filter(col("pos") >= least(lit(win), col("gcnt")))
      .select(col("doc_id"), (-col("pick.np")).cast("bigint").as("pos"),
        col("pick.h").as("h"))
      .distinct()
  }

  /** MOSS-style document-overlap report over [[winnowFingerprints]]:
    * pairs of documents sharing at least `minShared` selected hashes,
    * with the shared count — the plagiarism/citation-leak detector the
    * fingerprints exist for. Candidates come from an EQUI-JOIN on the
    * hash (work = Σ per-hash pairs, never corpus²); a hash held by more
    * than `hotCap` documents is boilerplate (license headers, templates)
    * and is dropped before pairing — the hot-shingle cap's rationale,
    * the same documented recall trade. Per-doc hash sets are distinct,
    * so `shared_fps` counts distinct shared fingerprints. */
  def winnowOverlap(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, win: Int = 4,
      minShared: Int = 3, hotCap: Int = 50): DataFrame = {
    require(minShared >= 1 && hotCap >= 2,
      s"minShared >= 1 and hotCap >= 2 required, got $minShared/$hotCap")
    // fp feeds the hot-hash count and both pair-join sides; NO cache —
    // the identical distinct exchange is deduplicated by ReuseExchange,
    // so a cache would only add a materialization pass (measured ~1.2×
    // slower at sf0.1)
    val fp = winnowFingerprints(docs, idCol, textCol, k, win)
      .select(col("doc_id"), col("h")).distinct()
    val hot = fp.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > hotCap).select("h")
    val ok = fp.join(hot, Seq("h"), "left_anti")
    val a = ok.select(col("h"), col("doc_id").as("doc_a"))
    val b = ok.select(col("h"), col("doc_id").as("doc_b"))
    a.join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Distinct word 3-gram shingles per doc, one row per (doc, shingle).
    * NOTE: the generator expression stays INLINE in the explode — routing
    * it through shingleArrays would materialize every doc's full string
    * array into an unsafe-row boundary before the Generate, measured 5×
    * slower than fusing array construction into the generate stage. */
  def shingles(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("w", split(col(textCol), " "))
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(1, greatest(size(w)-2, 1)), i -> concat_ws(' ', slice(w, i, 3)))"
        ))).as("shingle"))

  /** Skew guard for shingle joins at scale: drop shingles present in more
    * than `maxDocs` documents. A boilerplate phrase shared by n docs
    * produces n² join rows while contributing almost nothing to any
    * pair's Jaccard — at corpus scale one hot shingle can dominate the
    * whole shuffle. Off by default in the exact/oracle paths; turn it on
    * (typical cap: 1000) when running nearDedup over web-scale corpora.
    * MinHash signatures are computed BEFORE any cap, so candidate recall
    * is unaffected; only verification pair volume shrinks. */
  def capShingleFrequency(sh: DataFrame, maxDocs: Int): DataFrame = {
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocs)
      .select(col("shingle"))
    sh.join(freq, Seq("shingle"), "left_anti")
  }

  /** Shared Jaccard verification: pair shingle-intersection counts +
    * per-doc sizes → jaccard. `candidates` (doc_a, doc_b) restricts the
    * pair space (the LSH path); None means all colliding pairs. The
    * shingle frame must carry (doc_id, shingle). */
  private def jaccardOf(sh: DataFrame, sizes: DataFrame,
      candidates: Option[DataFrame]): DataFrame = {
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val common = (candidates match {
      case Some(c) => c.join(a, "doc_a").join(b, Seq("doc_b", "shingle"))
      // shuffle_hash beats sort-merge here: both sides are the same
      // already-hashed long-keyed frame, so skipping the two sorts is
      // pure win (measured 1.7×); the per-partition build side is one
      // shuffle slice of the shingle frame, which is exactly what the
      // hot-shingle cap bounds — at corpus scale run nearDedup (LSH
      // candidates) rather than this all-pairs verification form anyway
      case None => a.join(b.hint("shuffle_hash"), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
    }).groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
  }

  /** Exact pairwise shingle-Jaccard ≥ threshold. The shingle self-join
    * keys on xxhash64 (narrow shuffle); the verification path — at broad
    * scale run minhashCandidates first and verify only candidates
    * (nearDedup). `maxRows` is the O(N²) guard: this form exists to
    * anchor small-N oracles, so it FAILS FAST if pointed at a corpus it
    * was never meant for, instead of silently launching a quadratic
    * plan. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      maxRows: Long = 100000L): DataFrame = {
    val n = docs.count()
    require(n <= maxRows,
      s"jaccardPairs is the all-pairs verification twin (bounded at " +
        s"$maxRows rows); got $n rows — use nearDedup/minhashCandidates " +
        "for corpus-scale near-dup")
    val sh = shingles(docs, idCol, textCol)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .cache()
    // set sizes straight off the doc-level array: map-only, no
    // re-aggregation of the exploded frame
    val sizes = shingleArrays(docs, idCol, textCol)
      .select(col("doc_id"), size(col("shingles")).as("n"))
    jaccardOf(sh, sizes, None)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash near-dup signature pairs via byte-banding. Pigeonhole: ≤3
    * differing bits of a 32-bit signature touch ≤3 of its 4 bytes, so
    * every pair with Hamming ≤ 3 shares at least one exact byte —
    * candidates come from ONE equi-join on (band_index, band_byte) over
    * distinct signatures, Hamming-verified afterwards. No all-pairs
    * product anywhere in the plan, unlike the naive sig × sig crossJoin:
    * at corpus scale the join fan-out is bounded by band-bucket sizes
    * (256 buckets per band; skewed buckets shuffle-hash fine because the
    * payload is an 8-byte signature). Includes sig_a == sig_b rows so
    * exact duplicates surface through the same path. */
  def simhashSigPairs(sigs: DataFrame, sigCol: String = "sig",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"byte-banding of 32-bit signatures covers Hamming <= 3, got $maxHamming")
    val distinctSigs = sigs.select(col(sigCol).as("sig")).distinct()
    val banded = distinctSigs.select(col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), 8 * b).bitwiseAND(lit(255L))
            .as("byte"))
      }: _*)).as("bb"))
      .select(col("sig"), col("bb.band").as("band"), col("bb.byte").as("byte"))
    val a = banded.select(col("sig").as("sig_a"), col("band"), col("byte"))
    val b = banded.select(col("sig").as("sig_b"), col("band"), col("byte"))
    a.join(b, Seq("band", "byte"))
      .filter(col("sig_a") <= col("sig_b"))
      .select("sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** MinHash signatures: `hashes` md5-seeded min-hashes per doc, as one
    * native MinHashAgg aggregate (value-identical to the per-seed
    * `min(md5('i|' || shingle))` the DuckDB oracle computes — see
    * MinHashAgg's scaladoc for why the fused byte-level form is the
    * fast one). Columns come out as m0..m{hashes-1} for bands(). */
  def minhashSignatures(sh: DataFrame, hashes: Int = 16): DataFrame = {
    graft.functions.MinHashAgg.register(sh.sparkSession)
    sh.groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash(col("shingle"), hashes).as("__sig"))
      .select(col("doc_id") +: (0 until hashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** LSH banding of signatures: rows → (doc_id, band, band_hash). */
  def bands(sig: DataFrame, bandCount: Int = 4, rowsPerBand: Int = 4): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until bandCount).map { k =>
        val cols = (0 until rowsPerBand)
          .map(r => col(s"m${rowsPerBand * k + r}"))
        struct(lit(k).as("band"), md5(concat(cols: _*)).as("bh"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))

  private def candidatesFrom(sh: DataFrame, hashes: Int,
      bandCount: Int): DataFrame = {
    val banded = bands(minhashSignatures(sh, hashes),
      bandCount, hashes / bandCount).cache()
    val a = banded.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** MinHash-LSH candidate pairs: docs sharing ≥1 band bucket. One
    * equi-join on (band, hash) — the 100 TB dedup path. */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", hashes: Int = 16, bandCount: Int = 4):
      DataFrame =
    candidatesFrom(shingles(docs, idCol, textCol), hashes, bandCount)

  /** Cross-source near-duplicate LEAKAGE matrix — the "is my web crawl
    * bleeding into my books split" audit a multi-source corpus needs
    * before per-source mixture weights can be trusted (a source pair
    * with heavy overlap double-counts its mass). Pairs come from the
    * SAME banded-MinHash candidate generation as [[minhashCandidates]];
    * each pair maps to its lexicographically-ordered source pair, so
    * the matrix is upper-triangular with the diagonal counting
    * WITHIN-source duplication. Scale shape: two slim joins of the
    * (doc_a, doc_b) pair list against (id → source), then one
    * map-side-combinable groupBy over at most |sources|² keys — nothing
    * new grows with the corpus beyond the pair list itself. */
  def sourceOverlap(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val pairs = minhashCandidates(docs, idCol, textCol)
    val src = docs.select(col(idCol), col(srcCol))
    pairs
      .join(src.select(col(idCol).as("doc_a"), col(srcCol).as("__sa")), "doc_a")
      .join(src.select(col(idCol).as("doc_b"), col(srcCol).as("__sb")), "doc_b")
      .select(least(col("__sa"), col("__sb")).as("src_a"),
        greatest(col("__sa"), col("__sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** MinHash CONTAINMENT estimate over the LSH candidate pairs — the
    * asymmetric near-dup detector ("one doc embedded in a larger one"),
    * which Jaccard under-scores by construction: a 50-shingle doc fully
    * contained in a 1000-shingle doc has J ≈ 0.05 but containment 1.0
    * (Broder 1997's resemblance-vs-containment distinction). Exact
    * intersections would re-join the shingle sets — the jaccardPairs
    * verification-twin cost, quadratic in shared shingles; instead the
    * intersection is estimated from the signatures ALREADY computed for
    * banding: Ĵ = matching signature positions / hashes, and from
    * J = i/(a+b−i), |A∩B| ≈ Ĵ·(|A|+|B|)/(1+Ĵ); containment is that
    * over min(|A|,|B|). Set sizes are exact per-doc distinct-shingle
    * counts (one map-side-combinable groupBy). Per-pair cost is 16 hash
    * compares + two ints — bounded, corpus-scale-safe. Returns (doc_a,
    * doc_b, na, nb, matches, containment_est). */
  def containmentEst(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", hashes: Int = 16,
      bandCount: Int = 4): DataFrame = {
    // ONE signature computation (shingle Generate + MinHashAgg shuffle),
    // cached: it feeds the banded candidate join AND both per-pair
    // signature attach sides. The former shape derived candidates via
    // candidatesFrom(sh) — recomputing the signatures — and re-ran the
    // shingle explode for the sizes; sizes now come map-side off the
    // doc-level shingle arrays (the jaccardPairs move: shingles are
    // distinct per doc, so size(array) == the exploded count). The
    // caller owns the cache (the caching contract above).
    val sig = minhashSignatures(shingles(docs, idCol, textCol), hashes)
      .cache()
    val sizes = shingleArrays(docs, idCol, textCol)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("nsh"))
    val banded = bands(sig, bandCount, hashes / bandCount)
    val ba = banded.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
    val bb = banded.select(col("doc_id").as("doc_b"), col("band"), col("bh"))
    val cand = ba.join(bb, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val a = sig.select(col("doc_id").as("doc_a") +:
      (0 until hashes).map(i => col(s"m$i").as(s"__a$i")): _*)
    val b = sig.select(col("doc_id").as("doc_b") +:
      (0 until hashes).map(i => col(s"m$i").as(s"__b$i")): _*)
    cand
      .join(a, "doc_a").join(b, "doc_b")
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .withColumn("matches",
        (0 until hashes).map(i =>
          when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
          .reduce(_ + _))
      .withColumn("__j", col("matches") / lit(hashes.toDouble))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        col("matches"),
        round(col("__j") * (col("na") + col("nb")) / (lit(1.0) + col("__j")) /
          least(col("na"), col("nb")), 6).as("containment_est"))
  }

  /** Incremental (bipartite) admission of a NEW ingest batch against the
    * EXISTING corpus — the continuous-ingest shape of dedup. Per new doc:
    * `exact_dup` (its content hash already exists), `near_candidates`
    * (count of existing docs sharing ≥1 LSH band bucket), `admit`
    * (1 iff neither). The join is new-batch × corpus-index only — never
    * corpus × corpus — so at 100 TB the standing cost is the batch's own
    * signatures probing a precomputed banded index (here derived inline;
    * in production `bands(minhashSignatures(...))` of the corpus is the
    * stored index this probes). */
  def incrementalAdmit(newDocs: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      hashes: Int = 16, bandCount: Int = 4): DataFrame = {
    val newBands = bands(minhashSignatures(
      shingles(newDocs, idCol, textCol), hashes), bandCount,
      hashes / bandCount)
    val oldBands = bands(minhashSignatures(
      shingles(corpus, idCol, textCol), hashes), bandCount,
      hashes / bandCount)
      .select(col("doc_id").as("old_id"), col("band"), col("bh"))
    val near = newBands.join(oldBands, Seq("band", "bh"))
      .select(col("doc_id"), col("old_id")).distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("near_candidates"))
    val oldHashes = corpus
      .select(md5(col(textCol)).as("content_hash")).distinct()
    val exact = newDocs
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
      .join(oldHashes.withColumn("__hit", lit(1)), Seq("content_hash"), "left")
      .select(col("doc_id"),
        coalesce(col("__hit"), lit(0)).as("exact_dup"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("near_candidates"), lit(0L)).as("near_candidates"),
        when(col("exact_dup") === 0 &&
          coalesce(col("near_candidates"), lit(0L)) === 0, 1).otherwise(0)
          .as("admit"))
  }

  /** Connected components over an undirected edge list — the clustering
    * step of corpus near-dedup (LSH/Jaccard pairs → duplicate CLUSTERS →
    * one representative per cluster), which pairwise keep-min pruning
    * cannot express (a local minimum of the pair set is not a component
    * minimum). Alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): both steps
    * are one groupBy-min plus one equi-join over the edge frame, converge
    * in O(log²) rounds regardless of component diameter, and never
    * materialize a component in one task — per-round skew is bounded by
    * max degree, which small-star halves. Lineage is truncated per round
    * (localCheckpoint) so the plan stays O(1) deep.
    *
    * Returns (id, component) for every node of `edges`, where component
    * is the minimum node id of the connected component. Nodes absent
    * from `edges` (singletons) are the caller's to union in.
    *
    * `smallGraphEdges` is the broadcast-threshold analogue: a distinct
    * edge set at or under it (16 bytes/edge — the default bounds driver
    * heap at ~1.6 MB) is solved in one driver union-find pass instead of
    * paying several distributed rounds; above it the star loop runs. The
    * two paths are value-identical (PackCcSpec pins both against the
    * same model). At 100 TB the candidate graph is far past any such
    * threshold and the star loop is the path that executes.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 50,
      smallGraphEdges: Long = 100000L): DataFrame = {
    // canonical directed-from-larger edge set (u > v), self-loops dropped
    val e0raw = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()

    // size probe and small-graph edge fetch in ONE job: take(bound + 1)
    // either returns every edge (≤ bound ⇒ solve on the driver) or
    // proves the graph is past the bound. The former shape paid three
    // jobs before any union-find — an eager localCheckpoint
    // materialization, a count, and the collect; the checkpoint only
    // pays for itself on the star-loop path, where it now happens.
    val probe = e0raw.take(
      math.min(smallGraphEdges, Int.MaxValue.toLong - 1).toInt + 1)
    if (probe.length <= smallGraphEdges) {
      val session = edges.sparkSession
      import session.implicits._
      val es = probe.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      return parent.keys.toSeq.map(k => (k, find(k)))
        .toDF("id", "component")
    }
    val e0 = e0raw.localCheckpoint()

    val nodes = e0.select(col("u").as("id"))
      .union(e0.select(col("v").as("id"))).distinct()
      .localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      // symmetric neighbor view; m(u) = min(Γ(u) ∪ {u}); emit (v, m(u))
      // for every STRICTLY LARGER neighbor v of u
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // neighbors here are all smaller than u; connect N(u) ∪ {u} to its
      // minimum
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // fixpoint: the edge SET (each step ends in distinct) is stable
    // across a full large+small round — count plus an order-free
    // bit_xor of per-edge hashes (no overflow under ANSI mode)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var e = e0
    var prev = checksum(e)
    var converged = e.isEmpty
    var it = 0
    while (!converged && it < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint()
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")

    // converged state is a union of stars rooted at component minima
    val assigned = e.select(col("u").as("id"), col("v").as("component"))
    val roots = nodes.join(assigned, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    assigned.union(roots)
  }

  /** Star candidate EDGES per LSH bucket — the CLUSTERING form of
    * [[minhashCandidates]]: every band bucket contributes edges
    * (bucket-min doc, member) instead of all member pairs. A bucket's
    * star and its clique have IDENTICAL connected components (every
    * member reaches every other through the hub), so component labels
    * are value-unchanged — but a hot bucket of m docs costs m−1 edges
    * instead of m(m−1)/2. That asymmetry is what survives adversarial
    * duplication: a 90 %-duplicate corpus collapses most of the corpus
    * into ONE bucket per band, where the all-pairs join is quadratic in
    * the corpus (10^9+ pairs at 50k docs) and the star is linear (one
    * groupBy-min plus one equi-join — the DedupSpec skew probe measures
    * it). The hub's high degree is exactly the shape the star loop's
    * small-star step halves per round. Pair-level semantics
    * (exact-Jaccard verification, minhashCandidates) keep the all-pairs
    * form — candidate PAIRS are their contract; components are this
    * one's. */
  def starCandidateEdges(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", hashes: Int = 16, bandCount: Int = 4):
      DataFrame = {
    val banded = bands(
      minhashSignatures(shingles(docs, idCol, textCol), hashes),
      bandCount, hashes / bandCount)
    val reps = banded.groupBy("band", "bh")
      .agg(min(col("doc_id")).as("doc_a"), count(lit(1)).as("__m"))
      .filter(col("__m") > 1)
      .drop("__m")
    banded.join(reps, Seq("band", "bh"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Duplicate-PASSAGE detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): the unit of
    * duplication is the n-token window, not the whole document — long
    * boilerplate passages repeated across otherwise-distinct documents
    * are what whole-doc dedup misses and what inflates memorization.
    * Every position's n-token window is hashed (md5 — engine-
    * reproducible); a window hash seen more than once ANYWHERE in the
    * corpus marks that window duplicated, and each doc reports its
    * duplicated-window fraction plus the worst passage's global
    * multiplicity.
    *
    * Scale shape: one Generate (positional windows, ~one row per corpus
    * token), one map-side-combinable groupBy(hash) for global counts —
    * NO count-over-window partition, so a boilerplate passage repeated
    * millions of times is still combined map-side — and one equi-join of
    * the windows against the `cnt > 1` hash subset, then a per-doc agg.
    * Returns (doc_id, n_windows, n_dup_windows, dup_frac, max_dup_cnt).
    * Docs shorter than n tokens contribute their single whole-text
    * window, so every doc is represented. */
  def dupPassages(docs: DataFrame, n: Int = 20, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val windows = docs
      .select(col(idCol),
        explode(graft.functions.TextFunctions.gramMd5(
          col(textCol), n, clip = true)).as("__h"))
    val dupCounts = windows.groupBy("__h")
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
    windows
      .join(dupCounts, Seq("__h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_windows"),
        count(col("__cnt")).as("n_dup_windows"),
        coalesce(max(col("__cnt")), lit(0L)).as("max_dup_cnt"))
      .select(col(idCol), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_frac"),
        col("max_dup_cnt"))
  }

  /** Near-dup clustering end to end: LSH bucket star edges → connected
    * components → every doc labeled with its cluster representative
    * (minimum doc id of the component; singletons represent themselves).
    * `docs` survive a 100 TB dedup by keeping rows where
    * doc_id == component. Components equal the all-pairs candidate
    * graph's exactly (see [[starCandidateEdges]]) at linear instead of
    * quadratic cost under mass duplication. */
  def nearDupComponents(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", hashes: Int = 16, bandCount: Int = 4):
      DataFrame = {
    val edges = starCandidateEdges(docs, idCol, textCol, hashes, bandCount)
    val comp = connectedComponents(edges, "doc_a", "doc_b")
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** Canonical-document selection: after near-dup clustering, each
    * cluster keeps ONE representative chosen by content, not by id — the
    * standard "keep the longest member" canonicalization of production
    * dedup stacks (a truncated copy should never shadow the full
    * document, which min-id keep can do). `key` ranks members (default:
    * text length); ties go to the lowest doc id.
    *
    * Scale shape: selection is a map-side-combinable
    * `max(struct(key, -id))` per component — NO per-component window
    * sort, so a mega-cluster under 90 %-duplication skew reduces in
    * combiners instead of straggling one task — followed by one
    * equi-join of the (component, rep) frame back onto the members.
    * Returns (doc_id, component, csize, rep_id, is_rep). */
  def canonicalReps(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", key: Option[Column] = None): DataFrame = {
    val comp = nearDupComponents(docs, idCol, textCol)
    // labeled feeds BOTH the per-component argmax and the output join —
    // cached (narrow: id, key, component) so the text column is read
    // once, not once per consumer (there is no ReusedExchange here: the
    // aggregate side exchanges partial-agg rows, not labeled's).
    // The caller owns the cache (the caching contract above).
    val labeled = docs
      .select(col(idCol).cast("long").as("doc_id"),
        key.getOrElse(length(col(textCol))).as("__k"))
      .join(comp, Seq("doc_id"))
      .cache()
    val reps = labeled.groupBy("component")
      .agg(count(lit(1)).as("csize"),
        max(struct(col("__k").as("k"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("component"), col("csize"), (-col("m.nid")).as("rep_id"))
    labeled
      .join(reps, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"), col("rep_id"),
        (col("doc_id") === col("rep_id")).cast("int").as("is_rep"))
  }

  /** End-to-end near-dup dedup at scale: LSH candidates, exact-Jaccard
    * verification of candidates only, then keep-min representatives.
    * Shingles are computed once and shared by both phases. Returns the
    * deduplicated corpus. */
  def nearDedup(docs: DataFrame, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text",
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val shStr = shingles(docs, idCol, textCol).cache()
    val cands = candidatesFrom(shStr, hashes = 16, bandCount = 4)
    val shCapped = maxShingleFreq.fold(shStr)(capShingleFrequency(shStr, _))
    val shHashed = shCapped.select(col("doc_id"),
      xxhash64(col("shingle")).as("shingle"))
    // capping drops rows from the exploded frame, so sizes must be
    // re-counted from it to stay consistent with the intersection counts;
    // the uncapped path takes them map-side from the doc-level arrays
    val sizes = maxShingleFreq match {
      case Some(_) => shCapped.groupBy("doc_id").agg(count(lit(1)).as("n"))
      case None => shingleArrays(docs, idCol, textCol)
        .select(col("doc_id"), size(col("shingles")).as("n"))
    }
    val verified = jaccardOf(shHashed, sizes, Some(cands))
      .filter(col("jaccard") >= threshold)
    // drop the higher id of every verified pair
    docs.join(verified.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  // ---- exact duplicated-span detection (substring dedup) ------------------

  /** Word-position k-gram stream: (doc_id, pos, h) — one row per k-gram
    * with its 1-based word position and the same 60-bit md5 hash recipe
    * as [[winnowFingerprints]] (always-positive BIGINT, collision bound
    * past 10⁹ distinct grams, re-derivable by any engine). Docs shorter
    * than k words yield no grams. */
  private def gramStream(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    // one native pass (see winnowFingerprints); non-clip mode yields an
    // empty array for docs under k words, which posexplode drops exactly
    // like the former size(w) >= k filter
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextFunctions.gramHash60(
          col(textCol), k, clip = false)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("bigint").as("pos"),
        col("h"))

  /** Maximal duplicated word spans — the exact-substring complement of
    * document-level dedup (Lee, Ippolito et al., ACL 2022: duplicated
    * passages, not duplicated documents, are what web corpora actually
    * repeat; boilerplate paragraphs recur inside otherwise-unique pages
    * and survive every whole-doc fingerprint).
    *
    * Rule: a word k-gram is DUPLICATED when its hash occurs at ≥ 2
    * (doc, pos) locations corpus-wide — cross-document repeats and a
    * document repeating its own phrase both count, exactly the cases a
    * span remover must price. Per document, runs of CONSECUTIVE
    * duplicated gram positions merge into one maximal span (adjacent
    * repeats chain conservatively, the standard approximation) covering
    * words [span_start, span_end] = [first pos, last pos + k − 1]; only
    * spans of ≥ `minWords` words are reported.
    *
    * Scale shape: the gram explode is linear in corpus words; the
    * duplicated-hash set is a map-side-combinable count over h followed
    * by a hash equi-join (LEFT SEMI — never corpus²); the islands
    * window partitions per document (bounded by doc length). No
    * driver-side state.
    *
    * Returns (doc_id, span_start, span_end, n_words). */
  def dupSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, minWords: Int = 6): DataFrame = {
    require(k >= 1 && minWords >= k,
      s"need k >= 1 and minWords >= k, got k=$k minWords=$minWords")
    val g = gramStream(docs, idCol, textCol, k)
    val dupH = g.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("h")
    val dup = g.join(dupH, Seq("h"), "left_semi")
    // gaps-and-islands: consecutive positions share pos - row_number
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .withColumn("n_words", col("span_end") - col("span_start") + 1)
      .filter(col("n_words") >= minWords)
      .select("doc_id", "span_start", "span_end", "n_words")
  }

  /** Span-level trim: remove every [[dupSpans]] span's words from each
    * document and reassemble the survivors — the corpus-repair action
    * the span report exists for. Covered word positions come from
    * exploding each qualifying span's position range (linear in covered
    * words — never a range join), then an ANTI join against the word
    * stream; per-doc reassembly is an ordered array fold (single-space
    * joined, the library's word convention). Documents with no
    * qualifying span pass through whole.
    *
    * Returns (doc_id, n_kept, n_removed, trimmed_text). */
  def dupSpanTrim(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, minWords: Int = 6): DataFrame = {
    // spans collapse to ONE per-doc array row (bounded by doc length,
    // never corpus-wide), and the trim itself is a per-row projection
    // over the doc's own word array: keep word i iff no span covers
    // position i+1. The former shape exploded every covered position,
    // posexploded every corpus word, ANTI-joined the two streams on
    // (doc, pos) and re-assembled documents through a collect_list sort
    // — three corpus-scale exchanges plus two Generates for what a
    // filter-with-index computes in place; the only remaining exchange
    // above dupSpans is the slim span-array attach by doc_id.
    val spanArrs = dupSpans(docs, idCol, textCol, k, minWords)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    val w = split(col(textCol), " ")
    val spans = coalesce(col("__spans"),
      array().cast("array<struct<s:bigint,e:bigint>>"))
    val kept = filter(w, (x, i) =>
      !exists(spans, sp =>
        (i + 1) >= sp.getField("s") && (i + 1) <= sp.getField("e")))
    docs
      .select(col(idCol).as("doc_id"), col(textCol))
      .join(spanArrs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(size(kept).cast("long"), lit(0L)).as("n_kept"),
        (size(w).cast("long") -
          coalesce(size(kept).cast("long"), lit(0L))).as("n_removed"),
        coalesce(array_join(kept, " "), lit("")).as("trimmed_text"))
  }
}
