package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.Registry

/** Multi-executor smoke: run a representative registry slice on a
  * `local-cluster[2,4,2048]` master — Spark's standalone simulator that
  * launches REAL separate executor JVMs on this machine — and dump each
  * result to parquet for comparison against the in-process local-mode
  * answer (LocalClusterSpec).
  *
  * local[N] shares one JVM end to end, so it never exercises: closure and
  * task serialization across processes, codegen compiled on a non-driver
  * classloader (EwmaExpression), cross-JVM serialize/merge of custom
  * TypedImperativeAggregate buffers (HllAgg, PctSampleAgg), or remote
  * shuffle fetches. This main runs all of them for real; equality with
  * local mode is the assertion that the engine's answers don't depend on
  * where tasks physically run.
  *
  * Run as a separate JVM (the test session owns the in-process
  * SparkContext slot): LocalClusterSpec spawns `java -cp <same classpath>
  * graft.ClusterSmoke <master> <sfDir> <outDir>`.
  */
object ClusterSmoke {

  /** One query per plan family (the round-6 verdict's list, plus the
    * native-codegen expressions): classic shuffle join, HllAgg merge,
    * Ewma window codegen, boundary-carried scan, the partitioned-store
    * trace analytics path — plus the executor-JVM service paths: the
    * custom as-of join, and the streaming gate's state store across
    * executors. */
  val Slice: Seq[String] = Seq(
    "q3_revenue_by_nation",
    "ev_hll_users",
    "ev_ewma_by_user",
    "ev_value_drops",
    "trace_rollups_60s",
    "ev_asof_last_signup",
    "ev_streaming_gate",
    // PctSampleAgg is a TypedImperativeAggregate — its buffer merge
    // across executor JVMs is the point of this entry (the same
    // aggregate DerivedTables' p95 baselines use)
    "ev_percentiles_approx")

  /** JDK-17 module opens Spark needs outside spark-submit — mirrored from
    * build.sbt's javaOptions; reused for the spawned driver AND the
    * worker-launched executor JVMs. */
  val JdkAddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    val Array(master, sfDir, outDir) = args
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-cluster-smoke")
      // the cluster deployment path for the native expressions: session
      // extensions injected at build time, exactly as `--conf
      // spark.sql.extensions=graft.GraftExtensions` would on a real
      // cluster (the queries' internal register() calls then no-op over
      // the same shared builders)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // deliberately NOT the local suite's partition count: a query whose
      // answer depended on partitioning would already be a bug (every
      // slice member is hash-verified against partitionless DuckDB)
      .config("spark.sql.shuffle.partitions", "6")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.CodegenReuse)
      .config("spark.executor.memory", "1g")
      // executors are fresh JVMs launched by the standalone Worker — they
      // need the application classes (this jar-less sbt layout) and the
      // same JDK-17 opens the driver got from build.sbt
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", JdkAddOpens.mkString(" "))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    // Proof this run is genuinely multi-process: collect the executor-side
    // JVM id (pid@host) per partition of a forced-shuffle job and require
    // ≥2 distinct executor JVMs, none of them this driver JVM.
    val driverJvm = ManagementFactory.getRuntimeMXBean.getName
    val jvms = spark.sparkContext.parallelize(0 until 64, 16)
      .map(_ => ManagementFactory.getRuntimeMXBean.getName)
      .distinct().collect().sorted
    require(jvms.length >= 2,
      s"expected >=2 executor JVMs, saw ${jvms.mkString(",")}")
    require(!jvms.contains(driverJvm),
      s"executor work ran in the driver JVM $driverJvm")
    Files.writeString(Paths.get(s"$outDir/jvms.txt"),
      (s"driver $driverJvm" +: jvms.map("executor " + _)).mkString("\n"))

    Slice.foreach { name =>
      val df = Registry.byName(name).run(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.clearCache()
    }

    println("CLUSTER_SMOKE_OK")
    spark.stop()
  }
}
