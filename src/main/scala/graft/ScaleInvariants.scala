package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Algebraic-identity 100× gate for the registry entries whose DuckDB
  * oracle replay is compute-infeasible at 500k docs (recursive-CTE
  * transitive closures, per-row greedy folds). Their OPERATORS all run
  * Spark-side at 100×; what was missing is a 100× VALUE check. This
  * main supplies it without a cross-engine replay: each query's output
  * is audited against invariants that must hold exactly if — and
  * generally only if — the operator computed the right thing:
  *
  *  - connected components: label well-formedness (component id = the
  *    member minimum), bucket-connectivity (every LSH bucket is a
  *    clique in the candidate graph, so its members MUST share one
  *    component — the full-data form of the star-vs-clique spec), and
  *    idempotence (re-deduping the kept representatives removes
  *    nothing: reps of different components never shared a bucket, or
  *    they would be one component).
  *  - clean pipeline: keep == AND of the four gates, and idempotence
  *    (re-running the pipeline over its own kept set keeps everything:
  *    the per-row gates are pure, and kept docs are cluster minima, so
  *    no two can collide). Report == an independent re-aggregation.
  *  - text splitter: overlap-stitched chunks reassemble the original
  *    text byte-for-byte, and multi-word chunks respect the size bound.
  *  - greedy packing: the full greedy characterization — every doc
  *    placed exactly once in its id-mod bucket; bins feasible (sum ≤
  *    budget unless a single oversized doc); bin ids contiguous and
  *    non-decreasing in id order; every bin OPENER would have
  *    overflowed the previous bin; `fill` equals the running sum.
  *    Feasibility + opener-necessity + monotonicity uniquely replay
  *    the sequential fold, so this is complete, not just necessary.
  *  - SimHash pairs: full precision (recomputed Hamming distance of
  *    every reported pair matches and respects the bound) plus
  *    sampled-bucket completeness (all qualifying cross-sig pairs in
  *    the sampled byte-band buckets are reported).
  *
  * Usage: runMain graft.ScaleInvariants <sfDir> [check1,check2,...]
  * Prints one OK/FAIL line per check and a JSON summary; exits 1 on
  * any failure. NOT part of the shipped engine — a verification main,
  * like Verify.
  */
object ScaleInvariants {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only: Option[Set[String]] =
      args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.build("graft-invariants")
    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    def docs: DataFrame = Tables(spark, sfDir, "documents")

    val checks: Seq[(String, SparkSession => String)] = Seq(
      "cc_wellformed" -> (s => ccWellformed(s, q("doc_dedup_components"), docs)),
      "cc_bucket_connected" -> (s => ccBucketConnected(s, q("doc_dedup_components"), docs)),
      "cc_idempotent" -> (s => ccIdempotent(s, q("doc_dedup_components"), docs)),
      "pipeline_gates" -> (s => pipelineGates(s, q("doc_clean_pipeline"), docs)),
      "pipeline_idempotent" -> (s => pipelineIdempotent(s, q("doc_clean_pipeline"), docs)),
      "report_consistent" -> (s => reportConsistent(s, q("doc_clean_pipeline"),
        q("doc_pipeline_report"), docs)),
      "splitter_reassembly" -> (s => splitterReassembly(s, q("doc_text_splitter"), docs)),
      "pack_greedy" -> (s => packGreedy(s, q("doc_seq_pack"), docs)),
      "pack_examples" -> (s => packExamples(s, q("doc_pack_examples"), docs)),
      "simhash_pairs" -> (s => simhashPairs(s, q("doc_simhash_pairs"), docs)),
      "kmv_profile" -> (s => kmvProfile(s, q("ev_profile_kmv"),
        Tables(s, sfDir, "events")))
    )
    var failed = 0
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    checks.foreach { case (name, f) =>
      if (only.forall(_.contains(name))) {
        ran += name
        val t0 = System.nanoTime()
        try {
          val detail = f(spark)
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"OK   $name ($dt%.1f s): $detail")
        } catch {
          case e: Throwable =>
            failed += 1
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"FAIL $name ($dt%.1f s): ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    }
    println(s"""{"metric":"invariants","sf":"$sfDir","ran":${ran.size},""" +
      s""""failed":$failed}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  // ---- connected components ----------------------------------------------

  private def ccWellformed(s: SparkSession, out: DataFrame,
      docs: DataFrame): String = {
    val o = out.cache()
    try {
      val n = docs.count()
      require(o.count() == n, s"row count != $n docs")
      require(o.select("doc_id").distinct().count() == n, "duplicate doc rows")
      val badMin = o.groupBy("component").agg(min("doc_id").as("m"))
        .filter(col("m") =!= col("component")).count()
      require(badMin == 0, s"$badMin components whose id is not the member min")
      val badKeep = o.filter(
        (col("doc_id") === col("component")) =!= (col("keep") === 1)).count()
      require(badKeep == 0, s"$badKeep keep flags contradict representative rule")
      val badSize = o.groupBy("component")
        .agg(count(lit(1)).as("n2"), max("csize").as("cs"), min("csize").as("cs2"))
        .filter(col("cs") =!= col("n2") || col("cs2") =!= col("n2")).count()
      require(badSize == 0, s"$badSize components with inconsistent csize")
      s"$n docs, component ids are member minima, keep/csize consistent"
    } finally { o.unpersist(); () }
  }

  private def ccBucketConnected(s: SparkSession, out: DataFrame,
      docs: DataFrame): String = {
    import graft.ops.Dedup
    // every LSH band bucket is a clique in the candidate graph — all its
    // members MUST carry one component label (full-data star-vs-clique)
    val bands = Dedup.bands(Dedup.minhashSignatures(Dedup.shingles(docs)))
    val labeled = bands.join(out.select("doc_id", "component"), "doc_id")
    val buckets = labeled.groupBy("band", "bh")
      .agg(countDistinct("component").as("nc"), count(lit(1)).as("sz"))
    val viol = buckets.filter(col("nc") > 1).count()
    val total = buckets.count()
    require(viol == 0, s"$viol of $total buckets span multiple components")
    s"all $total band buckets single-component"
  }

  private def ccIdempotent(s: SparkSession, out: DataFrame,
      docs: DataFrame): String = {
    import graft.ops.Dedup
    val reps = docs.join(out.filter(col("keep") === 1).select("doc_id"), "doc_id")
    val nReps = reps.count()
    val moved = Dedup.nearDupComponents(reps)
      .filter(col("doc_id") =!= col("component")).count()
    require(moved == 0, s"re-dedup of the kept set moved $moved reps")
    s"re-dedup of $nReps kept reps removed nothing"
  }

  // ---- clean pipeline ----------------------------------------------------

  private def pipelineGates(s: SparkSession, dec: DataFrame,
      docs: DataFrame): String = {
    val d = dec.cache()
    try {
      val nTrain = docs.filter(col("doc_id") % 7 =!= 0).count()
      require(d.count() == nTrain, s"decision rows != $nTrain train docs")
      val bad = d.filter(col("keep") =!= col("is_quality") *
        col("not_repetitive") * col("dedup_keep") * col("not_contaminated"))
        .count()
      require(bad == 0, s"$bad rows where keep != AND of the gates")
      s"$nTrain decisions, keep == AND(gates)"
    } finally { d.unpersist(); () }
  }

  private def pipelineIdempotent(s: SparkSession, dec: DataFrame,
      docs: DataFrame): String = {
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val eval = docs.filter(col("doc_id") % 7 === 0)
    val kept = train.join(dec.filter(col("keep") === 1).select("doc_id"), "doc_id")
    val nKept = kept.count()
    val again = graft.ops.CleanPipeline.decisions(kept, eval)
    val dropped = again.filter(col("keep") =!= 1).count()
    require(dropped == 0, s"re-running the pipeline dropped $dropped kept docs")
    s"pipeline is idempotent over its $nKept kept docs"
  }

  private def reportConsistent(s: SparkSession, dec: DataFrame,
      report: DataFrame, docs: DataFrame): String = {
    // independent re-aggregation (plain groupBy over the decisions
    // joined to source, not CleanPipeline.report)
    val expect = dec.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("is_quality").cast("long").as("n_quality"),
        sum("not_repetitive").cast("long").as("n_not_repetitive"),
        sum("dedup_keep").cast("long").as("n_dedup_keep"),
        sum("not_contaminated").cast("long").as("n_not_contaminated"),
        sum("keep").cast("long").as("n_kept"),
        (sum("keep").cast("double") / count(lit(1))).as("keep_rate"))
    val cols = expect.columns.map(col)
    val diff = report.select(cols: _*).exceptAll(expect).count() +
      expect.exceptAll(report.select(cols: _*)).count()
    require(diff == 0, s"report and re-aggregation differ in $diff rows")
    s"report equals independent re-aggregation (${expect.count()} sources)"
  }

  // ---- text splitter -----------------------------------------------------

  private def splitterReassembly(s: SparkSession, chunks: DataFrame,
      docs: DataFrame): String = {
    import s.implicits._
    // size bound: a multi-word chunk respects the 500-char budget
    val oversize = chunks.filter(
      length(col("content")) > 500 && col("content").contains(" ")).count()
    require(oversize == 0, s"$oversize multi-word chunks exceed 500 chars")
    // stitch: drop each chunk's overlap prefix (the longest prefix that
    // is a suffix of the text so far; 0 ⇒ the splitter broke at an
    // oversized word and the joining space lives in neither chunk)
    val stitched = chunks
      .select(col("doc_id").cast("long"), col("piece_index").cast("int"),
        col("content"))
      .as[(Long, Int, String)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val cs = it.toArray.sortBy(_._2).map(_._3)
        val sb = new StringBuilder(cs.head)
        cs.tail.foreach { c =>
          var k = math.min(math.min(sb.length, c.length), 600)
          while (k > 0 && !sb.endsWith(c.substring(0, k))) k -= 1
          if (k == 0) sb.append(' ')
          sb.append(c.substring(k))
        }
        (id, sb.toString)
      }
      .toDF("doc_id", "stitched")
    val texts = docs.filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("text"))
    val joined = stitched.join(texts, "doc_id").cache()
    try {
      val n = texts.count()
      require(joined.count() == n, "chunked docs != non-empty docs")
      val bad = joined.filter(col("stitched") =!= col("text")).count()
      require(bad == 0, s"$bad docs fail overlap-stitched reassembly")
      s"all $n docs reassemble byte-for-byte from their chunks"
    } finally { joined.unpersist(); () }
  }

  // ---- greedy packing ----------------------------------------------------

  /** Full greedy characterization over a (doc_id, bucket, bin, fill)
    * pack of `d` (doc_id, n_tokens): see the object scaladoc. */
  private def greedyCharacterization(pack: DataFrame, d: DataFrame,
      budget: Int, buckets: Int): String = {
    val toks = d.select(col("doc_id"), col("n_tokens"))
    val j = pack.join(toks, "doc_id").cache()
    try {
      val n = d.count()
      require(j.count() == n, s"pack rows != $n docs")
      require(pack.select("doc_id").distinct().count() == n, "doc packed twice")
      require(j.filter(col("bucket") =!= col("doc_id") % buckets).count() == 0,
        "bucket != doc_id % buckets")
      val bins = j.groupBy("bucket", "bin").agg(
        sum("n_tokens").as("tot"), count(lit(1)).as("nd"),
        min("doc_id").as("first_doc")).cache()
      try {
        val infeasible = bins.filter(col("tot") > budget && col("nd") > 1).count()
        require(infeasible == 0, s"$infeasible bins overflow $budget with >1 doc")
        // openers: the first doc of bin b>0 must NOT have fit in bin b-1
        val firstToks = toks.withColumnRenamed("doc_id", "opener_doc")
          .withColumnRenamed("n_tokens", "first_tokens")
        val lazyOpen = bins.alias("cur")
          .join(bins.alias("prev"),
            col("cur.bucket") === col("prev.bucket") &&
              col("cur.bin") === col("prev.bin") + 1)
          .join(firstToks, col("cur.first_doc") === col("opener_doc"))
          .filter(col("prev.tot") + col("first_tokens") <= budget).count()
        require(lazyOpen == 0, s"$lazyOpen bins opened although the doc fit")
        // sequential shape: bins start at 0, never skip, never go back
        val w = Window.partitionBy("bucket").orderBy("doc_id")
        val seq = j.withColumn("prev_bin", lag("bin", 1).over(w))
        require(seq.filter(col("prev_bin").isNull && col("bin") =!= 0)
          .count() == 0, "a bucket's first doc is not in bin 0")
        require(seq.filter(col("prev_bin").isNotNull &&
          (col("bin") < col("prev_bin") || col("bin") > col("prev_bin") + 1))
          .count() == 0, "bin ids skip or regress in id order")
        // fill == running in-bin sum
        val w2 = Window.partitionBy("bucket", "bin").orderBy("doc_id")
        val badFill = j.withColumn("run", sum("n_tokens").over(w2))
          .filter(col("fill") =!= col("run")).count()
        require(badFill == 0, s"$badFill rows where fill != running sum")
        val nBins = bins.count()
        s"$n docs in $nBins bins: feasible, openers necessary, fills exact"
      } finally { bins.unpersist(); () }
    } finally { j.unpersist(); () }
  }

  private def tokenized(docs: DataFrame): DataFrame =
    docs.withColumn("n_tokens",
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long"))

  private def packGreedy(s: SparkSession, pack: DataFrame,
      docs: DataFrame): String =
    greedyCharacterization(pack.select("doc_id", "bucket", "bin", "fill"),
      tokenized(docs), budget = 512, buckets = 8)

  private def packExamples(s: SparkSession, ex: DataFrame,
      docs: DataFrame): String = {
    // the examples' pack is over the doc_id<1500 subset (its own greedy
    // fold) — characterize THAT pack, then require the example frame to
    // equal an independent re-aggregation of it joined to the texts
    val d = tokenized(docs).filter(col("doc_id") < 1500)
    val pack = graft.ops.Packing.packGreedy(d, idCol = "doc_id",
      tokensCol = "n_tokens", budget = 512, buckets = 8)
    val charDetail = greedyCharacterization(
      pack.select("doc_id", "bucket", "bin", "fill"), d, 512, 8)
    val expect = pack.join(d.select("doc_id", "text", "n_tokens"), "doc_id")
      .groupBy("bucket", "bin").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id")))),
          x => x.getField("doc_id").cast("string")), "|").as("doc_ids"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n\n").as("example_text"))
    val cols = expect.columns.map(col)
    val diff = ex.select(cols: _*).exceptAll(expect).count() +
      expect.exceptAll(ex.select(cols: _*)).count()
    require(diff == 0, s"example frame differs from re-aggregation in $diff rows")
    s"examples equal independent re-aggregation; subset pack: $charDetail"
  }

  // ---- SimHash pairs -----------------------------------------------------

  private def simhashPairs(s: SparkSession, pairs: DataFrame,
      docs: DataFrame): String = {
    val sigs = docs.select(col("doc_id"),
      graft.functions.TextFunctions.simhash32(col("text")).as("sig")).cache()
    try {
      val p = pairs.cache()
      try {
        // FULL precision: every reported pair's recomputed Hamming
        // distance matches and respects the bound; orientation canonical
        val withSigs = p
          .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        val bad = withSigs.filter(
          bit_count(col("sa").bitwiseXOR(col("sb"))) =!= col("hamming") ||
            col("hamming") > 3 || col("doc_a") >= col("doc_b")).count()
        require(bad == 0, s"$bad reported pairs fail recomputed Hamming")
        // SAMPLED-bucket completeness: for byte values 0..3 of each of
        // the 4 bands, every qualifying cross-sig pair must be reported
        val ds = sigs.select("sig").distinct()
        val banded = ds.select(col("sig"), explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), 8 * b).bitwiseAND(lit(255L))
              .as("byte"))
        }: _*)).as("bb"))
          .select(col("sig"), col("bb.band").as("band"), col("bb.byte").as("byte"))
          .filter(col("byte") < 4)
        val cand = banded.alias("x").join(banded.alias("y"),
            col("x.band") === col("y.band") && col("x.byte") === col("y.byte") &&
              col("x.sig") < col("y.sig"))
          .select(col("x.sig").as("sa"), col("y.sig").as("sb")).distinct()
          .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
        val reportedSigPairs = withSigs
          .select(least(col("sa"), col("sb")).as("sa"),
            greatest(col("sa"), col("sb")).as("sb")).distinct()
        val missing = cand.join(reportedSigPairs, Seq("sa", "sb"), "left_anti")
          .count()
        require(missing == 0, s"$missing sampled-bucket sig pairs unreported")
        val np = p.count()
        s"$np pairs precision-exact; sampled buckets complete"
      } finally { p.unpersist(); () }
    } finally { sigs.unpersist(); () }
  }

  /** KMV profile: every registered column's sketch output re-derived
    * IN-ENGINE from the declarative replay (distinct md5 → sort →
    * k smallest → the same two IEEE ops on the k-th digest's leading
    * 60 bits), plus exactness checks — under-capacity estimates must
    * EQUAL count(distinct), over-capacity estimates must sit within
    * 5.5 rse (≈35 % at k=256) of the true cardinality, and n_rows /
    * n_nulls must equal their exact counts. At 10×/100× the estimator
    * branch is live for the high-cardinality columns (event_id crosses
    * k=256 at every sf), so this check exercises the regime the sketch
    * exists for, not just the exact fallback. */
  private def kmvProfile(s: SparkSession, out0: DataFrame,
      ev: DataFrame): String = {
    val k = 256
    val cols = Seq("event_id", "user_id", "event_type", "props")
    val out = out0.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    require(out.keySet == cols.toSet,
      s"registered columns drifted: ${out.keySet}")
    val nRows = ev.count()
    var estimatorCols = 0
    val details = cols.map { c =>
      val nonNull = ev.filter(col(c).isNotNull)
      val hs = nonNull.select(md5(col(c).cast("string")).as("d"))
        .distinct().orderBy("d").limit(k).collect().map(_.getString(0))
      val replay =
        if (hs.length < k) hs.length.toDouble
        else {
          val h60 = java.lang.Long.parseLong(hs.last.substring(0, 15), 16)
          (k - 1).toDouble * math.pow(2.0, 60) / h60.toDouble
        }
      val (nr, nn, est) = out(c)
      require(est == replay, s"$c: registered est $est != replay $replay")
      require(nr == nRows, s"$c: n_rows $nr != $nRows")
      val exactNulls = ev.filter(col(c).isNull).count()
      require(nn == exactNulls, s"$c: n_nulls $nn != $exactNulls")
      if (hs.length < k) {
        val exact = nonNull.select(countDistinct(col(c))).first().getLong(0)
        require(est == exact.toDouble,
          s"$c: under-capacity est $est != exact $exact")
        f"$c exact=$est%.0f"
      } else {
        estimatorCols += 1
        val exact = nonNull.select(countDistinct(col(c))).first().getLong(0)
        require(math.abs(est - exact) <= 0.35 * exact,
          f"$c: est $est%.0f outside 5.5 rse of exact $exact")
        f"$c est=$est%.0f/exact=$exact (${est / exact}%.3f)"
      }
    }
    require(estimatorCols >= 1,
      "no column crossed the sketch capacity — the estimator branch is " +
        "untested at this corpus; raise the scale factor")
    details.mkString("; ")
  }
}
