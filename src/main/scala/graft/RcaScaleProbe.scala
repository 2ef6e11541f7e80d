package graft

import org.apache.spark.sql.SparkSession

import graft.trace.RcaLoop

/** 100×-volume probe for the agentic RCA loop (round-9 ask 8): run the
  * SAME `RcaLoop.investigate` configuration the registered
  * `trace_rca_loop` / `trace_rca_final` queries use, but against a
  * generated multi-file trace corpus (dev/gen_scale_logs.py x100 →
  * ~10M events), and MEASURE what the loop's bounded-collect design
  * argues from limits: wall time per phase and driver peak heap. The
  * loop's driver-side state is capped by construction (context slices
  * are LIMIT-ed, evidence summaries are one-line strings, the trace is
  * ≤ maxIterations rows); this main turns that argument into recorded
  * numbers for COVERAGE.md.
  *
  * With a `local-cluster[n,c,mem]` master (round-10 ask 8) the probe
  * separates what single-JVM local mode conflates: the cached event
  * table lives in the EXECUTOR JVMs (as on a real cluster) and the
  * reported heap peak is the DRIVER ALONE — the loop's bounded collects
  * plus plan/scheduler state — so "no collect site grows with volume"
  * becomes a driver-only number. The executor JVMs get the application
  * classpath + JDK-17 opens the same way ClusterSmoke deploys them;
  * launch with SPARK_HOME and SPARK_SCALA_VERSION set (see
  * LocalClusterSpec).
  *
  * Usage: runMain graft.RcaScaleProbe [logsDir] [master]
  */
object RcaScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale/logs100")
    require(new java.io.File(dir).isDirectory, s"no trace corpus at $dir")
    val master = args.lift(1).getOrElse("")
    val spark =
      if (master.startsWith("local-cluster")) clusterSession(master)
      else GraftSession.build("graft-rca-probe")

    def heapPeakMb: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / (1024 * 1024)
    }
    def resetPeaks(): Unit = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .foreach(_.resetPeakUsage())
    }
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[rca-probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(driver heap peak ${heapPeakMb} MB)")
      r
    }

    if (master.startsWith("local-cluster")) {
      // proof the run is genuinely multi-process before measuring: the
      // cache and scans must execute in executor JVMs, not this one
      val driverJvm =
        java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      val jvms = spark.sparkContext.parallelize(0 until 64, 16)
        .map(_ => java.lang.management.ManagementFactory
          .getRuntimeMXBean.getName)
        .distinct().collect().sorted
      require(jvms.length >= 2 && !jvms.contains(driverJvm),
        s"not a multi-JVM run: driver=$driverJvm executors=${jvms.toSeq}")
      println(s"[rca-probe] driver $driverJvm; " +
        s"executors ${jvms.mkString(", ")}")
    }

    resetPeaks()
    val events = timed("ingest + cache") {
      val ev = graft.trace.TraceEvents.load(spark, s"$dir/*.xml").cache()
      val n = ev.count()
      println(s"[rca-probe] $n events from $dir")
      ev
    }
    val trace = timed("RcaLoop.investigate (5 iters, 3 LLM calls)") {
      // shared=None: the loop derives metrics/baselines/battery itself —
      // the full standalone cost, nothing pre-aggregated
      RcaLoop.investigate(events, "Diagnose the FDB failure",
        new graft.ops.LlmBoundary.StubClient,
        RcaLoop.Config(maxIterations = 5, maxLlmCalls = 3))
    }
    val rows = trace.collect()
    val fin = rows.maxBy(_.getAs[Int]("iteration"))
    println(s"[rca-probe] iterations=${rows.length} " +
      s"stop=${fin.getAs[String]("stop_reason")} " +
      s"confidence=${fin.getAs[Double]("confidence")} " +
      s"hypothesis=${fin.getAs[String]("hypothesis")}")
    println(s"[rca-probe] final driver heap peak: ${heapPeakMb} MB" +
      (if (master.startsWith("local-cluster")) " (driver ONLY — the " +
        "cached event table lives in the executor JVMs)" else ""))
    spark.stop()
  }

  /** The ClusterSmoke deployment shape: fresh executor JVMs launched by
    * the standalone Worker need the app classes (jar-less sbt layout)
    * and the JDK-17 opens; extensions injected the cluster way. */
  private def clusterSession(master: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-rca-probe-cluster")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.CodegenReuse)
      // the worker grants local-cluster[n,c,mem]'s mem, but the executor
      // JVM still boots at the 1g spark.executor.memory DEFAULT unless
      // told otherwise (first run died exit-52 OOM mid-ingest); size it
      // just under the worker grant — the 9.57M-event cache wants the
      // room, and what doesn't fit spills (Dataset.cache is
      // MEMORY_AND_DISK)
      .config("spark.executor.memory",
        sys.env.getOrElse("GRAFT_PROBE_EXEC_MEM", "18g"))
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        ClusterSmoke.JdkAddOpens.mkString(" "))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
