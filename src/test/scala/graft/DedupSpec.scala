package graft

import org.apache.spark.sql.SparkSession

/** The GraftExtensions entry point: a session built with the extensions
  * sees the native scalar, window and aggregate functions. The suite keeps
  * its historical name so the test's identity in reports is unchanged. */
class DedupSpec extends SparkSpec {

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
}
