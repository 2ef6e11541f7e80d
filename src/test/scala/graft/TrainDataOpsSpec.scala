package graft

import org.apache.spark.sql.functions._

/** Training-data pipeline additions: passage dedup, the native gram
  * hasher and incremental admission. Each op is pinned against a naive
  * in-memory re-derivation. */
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
}
