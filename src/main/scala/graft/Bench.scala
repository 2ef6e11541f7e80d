package graft

/** Benchmark main: one JSON line with per-query wall times on
  * SPARK_GRAFT_SF_DIR. Each query gets an untimed warm-up execution first
  * so the reported numbers measure engine throughput (steady-state plans,
  * JIT'd codegen), not JVM/classloader warm-up. A query that throws in any
  * timed pass is listed under `failed` with its message and left out of
  * `queries` and `total`: its time-to-exception is not a timing. */
object Bench {
  /** Drops every cache a query may leave behind. Some queries cache
    * intermediates; dropping them between queries keeps 60+ queries in
    * one JVM from accumulating storage memory. Callers run it OUTSIDE
    * the timed window, so teardown cost isn't billed to the next query.
    * The RCA trace memo survives clearCache (it holds rows, not blocks),
    * so it is evicted explicitly: every timed execution must pay its
    * query's full cost, not read a result the warm-up pass computed. */
  def reset(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.queries.TraceQueries.evictRcaTraceCache(spark)
    graft.queries.TraceQueries.evictFixtureCache(spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")

    def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"
    /** Runs one query; Some(message) when it throws. */
    def exec(name: String): Option[String] =
      try {
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        None
      } catch { case e: Throwable => Some(describe(e)) }

    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n => exec(n); reset(spark) } // warm-up
    // Machine-load calibration: a FIXED synthetic workload (registry- and
    // data-independent, codegen'd, all cores) timed alongside the
    // queries. Its wall time moves with background load exactly like the
    // query times do, so the round-over-round regression gate compares
    // ratios AGAINST the calibration ratio instead of against wall-clock
    // absolutes — a loaded rerun of an unchanged binary stops flagging
    // the whole registry, while a genuine per-query regression still
    // stands out over the machine-wide drift.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
      val t0 = System.nanoTime()
      // bit_xor, not sum: full-range hash longs overflow an ANSI sum
      spark.range(0L, 200000000L, 1L, 32)
        .select(bit_xor(xxhash64(col("id")))).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // warm-up
    // Each entry is Right(seconds) or Left(failure message).
    def timedPass(): (Map[String, Either[String, Double]], Double) =
      (names.map { name =>
        val t0 = System.nanoTime()
        val err = exec(name)
        val dt = (System.nanoTime() - t0) / 1e9
        reset(spark)
        name -> err.toLeft(dt)
      }.toMap, calibrate())
    // several timed passes, report the per-query minimum — local-mode wall
    // times on shared hardware are noisy and min is the robust statistic
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val all = (1 to math.max(passes, 1)).map(_ => timedPass())
    val runs = names.map(n => n -> all.map(_._1(n)))
    val results = runs.collect { case (n, rs) if rs.forall(_.isRight) =>
      n -> rs.flatMap(_.toOption).min }
    val failed = runs.flatMap { case (n, rs) =>
      rs.collectFirst { case Left(msg) => n -> msg } }
    val calib = all.map(_._2).min
    val loadavg = {
      val la = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      f"$la%.2f"
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def jsonString(x: String): String = "\"" + x.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failedJson = failed.map { case (k, msg) =>
      jsonString(k) + ":" + jsonString(msg) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // prior-round comparison, embedded so the round record is
    // self-sufficient even if the driver's stdout tail-capture truncates:
    // read the previous bench_results.json total before overwriting it
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_results.json")
    val prevText: Option[String] =
      try Some(java.nio.file.Files.readString(java.nio.file.Paths.get(outFile)))
      catch { case _: Exception => None }
    val prevTotal: Option[Double] = prevText.flatMap { prev =>
      """"metric":"total","value":([0-9.eE+-]+)""".r
        .findFirstMatchIn(prev).map(_.group(1).toDouble)
    }
    // per-query prior-round map: regression detection needs per-QUERY
    // ratios, not just the total (a uniform environment drift and a single
    // 5× regression can produce the same total)
    val prevQueries: Map[String, Double] = prevText.flatMap { prev =>
      """"queries":\{([^}]*)\}""".r.findFirstMatchIn(prev).map(_.group(1))
    }.map { body =>
      """"([^"]+)":([0-9.eE+-]+)""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
    val prevCalib: Option[Double] = prevText.flatMap { prev =>
      """"calib":([0-9.eE+-]+)""".r
        .findFirstMatchIn(prev).map(_.group(1).toDouble)
    }
    val ratios = results.flatMap { case (n, v) =>
      prevQueries.get(n).filter(_ > 0).map(p => n -> v / p) }
    // machine-drift-adjusted flag threshold: a query only flags when it
    // regressed 1.5× OVER AND ABOVE what the calibration workload says
    // the whole machine drifted. The threshold scales DOWN as well as up —
    // on a rerun where the calibration got faster, query times should have
    // too, so holding the threshold at 1.5 would mask regressions up to
    // 1.5/calibRatio. The 0.8 floor only absorbs calibration noise (the
    // calibration is a single min-of-passes measurement like the queries);
    // a machine that genuinely doubled in speed still tightens the gate
    // to 1.2.
    val calibRatio = prevCalib.filter(_ > 0).map(calib / _).getOrElse(1.0)
    val flagThreshold = 1.5 * math.max(0.8, calibRatio)
    val ratiosJson =
      if (ratios.isEmpty) ""
      else {
        val r = ratios.map { case (n, x) =>
          "\"" + n + "\":" + f"$x%.3f" }.mkString("{", ",", "}")
        // flagged entries are the ones a round reviewer must attribute;
        // new queries (no prior entry) are listed separately so a rename
        // can't silently hide a regression
        val flagged = ratios.filter(_._2 > flagThreshold).sortBy(-_._2)
          .map { case (n, x) => "\"" + n + "\"" }.mkString("[", ",", "]")
        val newQ = results.map(_._1).filterNot(prevQueries.contains)
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","vs_prev":$r,"calib_ratio":${f"$calibRatio%.3f"},""" +
          s""""flag_threshold":${f"$flagThreshold%.3f"},""" +
          s""""flagged_over_threshold":$flagged,"new_queries":$newQ"""
      }
    val prevJson = prevTotal.map { p =>
      s""","prev_total":$p,"ratio_vs_prev":${total / p}"""
    }.getOrElse("")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,""" +
        s""""calib":${f"$calib%.3f"},"loadavg":$loadavg,""" +
        s""""parallelism":${spark.sparkContext.defaultParallelism},""" +
        s""""queries":$qs,"failed":$failedJson,""" +
        s""""sf":"$sfDir"$prevJson$ratiosJson}"""
    println(json)
    // also persist the full line: the driver's stdout tail-capture has
    // truncated the head of the per-query map in past rounds — the file
    // keeps the complete record for round-over-round comparison
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    spark.stop()
  }
}
