package graft

import java.nio.file.Files

/** End-to-end CLI flow over the reference XML fixture: load → stats →
  * query → rollup → chunk → export → detect. */
class CliSpec extends SparkSpec {

  test("cli: full pipeline over the XML fixture") {
    val store = Files.createTempDirectory("graft-cli").toString
    def run(args: String*): Int =
      Cli.run(args.toArray, sessionOverride = Some(spark))

    assert(run("--db", store, "init") === 0)
    assert(run("--db", store, "load", RefXml, "--stable-ids") === 0)
    assert(new java.io.File(s"$store/events").exists())
    assert(new java.io.File(s"$store/event_metrics").exists())
    assert(spark.read.parquet(s"$store/events").count() === 319)

    assert(run("--db", store, "stats") === 0)
    assert(run("--db", store, "query",
      "SELECT event, COUNT(*) n FROM events GROUP BY 1 ORDER BY n DESC LIMIT 3") === 0)
    assert(run("--db", store, "rollup", "--interval", "60") === 0)
    assert(spark.read.parquet(s"$store/rollups_60s").count() > 0)
    assert(run("--db", store, "chunk") === 0)
    assert(spark.read.parquet(s"$store/chunks").count() === 5)

    val out = s"$store/export_out"
    assert(run("--db", store, "export",
      "SELECT severity, COUNT(*) AS n FROM events GROUP BY 1", out,
      "--format", "csv") === 0)
    assert(new java.io.File(out).exists())
    assert(run("--db", store, "detect") === 0)

    // compact migrates the flat events dir into the date-partitioned
    // ts-sorted Store layout; readers and SQL keep working over it
    assert(run("--db", store, "compact") === 0)
    assert(spark.read.parquet(s"$store/events").count() === 319)
    assert(run("--db", store, "query",
      "SELECT COUNT(*) n FROM events WHERE severity >= 20") === 0)
    assert(run("--db", store, "stats") === 0)

    assert(run("--db", store, "nope") === 1)
  }

  test("cli: load --all walks a directory tree, mixed suffixes, sorted") {
    val store = Files.createTempDirectory("graft-cli-all").toString
    val logs = Files.createTempDirectory("graft-logs")
    val nested = Files.createDirectory(logs.resolve("nested"))
    // one XML (copied fixture), one JSON-lines in a subdirectory, and an
    // unsupported suffix that must be ignored
    Files.copy(java.nio.file.Paths.get(RefXml), logs.resolve("a.xml"))
    Files.write(nested.resolve("b.json"), java.util.Arrays.asList(
      """{"Severity": "20", "Time": "1.5", "DateTime": "2025-01-01T00:00:01Z", "Type": "JsonThing"}"""))
    Files.write(logs.resolve("ignore.parquet"), java.util.Arrays.asList("x"))

    val found = trace.TraceEvents.discover(logs.toString)
    assert(found.length === 2)
    assert(found.head.endsWith("a.xml")) // sorted
    assert(found(1).endsWith("b.json"))

    def run(args: String*): Int =
      Cli.run(args.toArray, sessionOverride = Some(spark))
    assert(run("--db", store, "load", logs.toString, "--all",
      "--stable-ids") === 0)
    val events = spark.read.parquet(s"$store/events")
    assert(events.count() === 320) // 319 XML + 1 JSON
    assert(events.filter(org.apache.spark.sql.functions.col("event") ===
      "JsonThing").count() === 1)
    // stable ids stay contiguous across the multi-file load
    assert(events.agg(org.apache.spark.sql.functions.max("event_id"))
      .first().getLong(0) === 320L)
  }

  test("cli: forced-recovery subcommand writes trigger-bounded chunks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val store = Files.createTempDirectory("graft-cli-fr").toString
    val events = Seq(
      (1L, "2025-01-01 00:00:01", "Before", 10, Map.empty[String, String]),
      (2L, "2025-01-01 00:00:02", "CodeCoverage", 10,
        Map("Comment" -> "Forced recovery requested")),
      (3L, "2025-01-01 00:00:03", "Working", 10, Map.empty[String, String]),
      (4L, "2025-01-01 00:00:04", "MasterRecoveryState", 10,
        Map("StatusCode" -> "14")))
      .toDF("event_id", "tss", "event", "severity", "fields")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("role", lit(null).cast("string"))
    events.write.mode("overwrite").parquet(s"$store/events")
    def run(args: String*): Int =
      Cli.run(args.toArray, sessionOverride = Some(spark))
    assert(run("--db", store, "forced-recovery") === 0)
    val chunks = spark.read.parquet(s"$store/forced_recovery_chunks")
    assert(chunks.count() === 1)
    val c = chunks.first()
    assert(c.getAs[Boolean]("complete"))
    assert(c.getAs[String]("start_comment") === "Forced recovery requested")
    // export partitions escape hatch
    val out = s"$store/export_parts"
    assert(run("--db", store, "export",
      "SELECT event_id, event, severity FROM events", out, "--format", "csv",
      "--partitions", "2") === 0)
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".csv")) === 2)
  }
}
