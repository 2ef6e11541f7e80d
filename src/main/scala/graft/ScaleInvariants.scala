package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Algebraic-identity 100× gate for registry entries whose DuckDB
  * oracle replay is compute-infeasible at 100× (recursive CTEs, sorted
  * digest replays). Their OPERATORS run Spark-side at 100×; this main
  * supplies the 100× VALUE check without a cross-engine replay: each
  * query's output is audited against invariants that must hold exactly
  * if the operator computed the right thing:
  *
  *  - text splitter: overlap-stitched chunks reassemble the original
  *    text byte-for-byte, and multi-word chunks respect the size bound.
  *  - KMV profile: every sketch estimate equals an in-engine replay and
  *    sits inside its error bound (see `kmvProfile`).
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

    val checks: Seq[(String, SparkSession => String)] = Seq(
      "splitter_reassembly" -> (s => splitterReassembly(s,
        q("doc_text_splitter"), Tables(s, sfDir, "documents"))),
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
