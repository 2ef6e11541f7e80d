package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Multi-executor smoke (round-6 verdict item 1): spawn a separate driver
  * JVM running the ClusterSmoke slice on `local-cluster[2,4,2048]` — real
  * executor processes, real task/closure serialization, cross-JVM merge
  * of the custom aggregate buffers (HllAgg, PctSampleAgg), codegen on
  * executor classloaders (Ewma), remote shuffle fetches — then assert
  * each query's result is EXACTLY the local-mode answer computed in this
  * JVM.
  *
  * The subprocess is required because one JVM holds one SparkContext and
  * every other suite shares the local[4] session; a cluster master needs
  * its own process anyway to be an honest test.
  */
class LocalClusterSpec extends SparkSpec {

  /** Canonical row multiset: columns sorted by name, rows as JSON,
    * sorted — the same shape the driver's oracle compare hashes. */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map(col)
    df.select(cols: _*).toJSON.collect().toSeq.sorted
  }

  test("registry slice is executor-placement-independent: " +
      "local-cluster[2,4,2048] equals local mode exactly") {
    val outDir = Files.createTempDirectory("graft_cluster_smoke")
    outDir.toFile.deleteOnExit()

    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd: Seq[String] =
      Seq(java.toString) ++ ClusterSmoke.JdkAddOpens ++ Seq(
        "-Xmx6g",
        "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"),
        "graft.ClusterSmoke",
        "local-cluster[2,4,2048]", SfDir, outDir.toString)
    val log = outDir.resolve("driver.log").toFile
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_HOME",
      sys.env.getOrElse("SPARK_HOME", "/opt/spark"))
    // the in-process Worker builds executor commands via the launcher
    // library, which needs the scala version normally exported by
    // bin/load-spark-env.sh ("Cannot find any build directories" otherwise)
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val proc = pb.start()
    val done = proc.waitFor(15, TimeUnit.MINUTES)
    if (!done) proc.destroyForcibly()
    def logTail: String = {
      val lines = scala.io.Source.fromFile(log).getLines().toSeq
      lines.takeRight(40).mkString("\n")
    }
    assert(done, s"cluster smoke timed out after 15 min\n$logTail")
    assert(proc.exitValue() == 0,
      s"cluster smoke exited ${proc.exitValue()}\n$logTail")

    // the subprocess proved multi-JVM placement (>=2 executor JVMs, none
    // the driver) before writing results; surface that evidence here
    val jvms = Files.readString(outDir.resolve("jvms.txt"))
    assert(jvms.linesIterator.count(_.startsWith("executor ")) >= 2, jvms)

    ClusterSmoke.Slice.foreach { name =>
      val clusterRows =
        canon(spark.read.parquet(s"$outDir/$name"))
      val localRows =
        canon(graft.queries.Registry.byName(name).run(spark, SfDir))
      assert(clusterRows == localRows,
        s"$name differs between local and local-cluster: " +
          s"cluster=${clusterRows.size} rows, local=${localRows.size} rows")
      spark.catalog.clearCache()
    }
  }
}
