package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.trace._

/** CLI mirroring the reference's subcommand surface
  * (cli_wrapper/main.py:39-230): init / load / parse / query / stats /
  * export / pipeline / rollup / chunk — with a parquet table store per
  * "database" directory instead of a DuckDB file.
  *
  * Usage: graft.Cli --db <storeDir> <command> [args...]
  */
object Cli {

  case class Ctx(spark: SparkSession, store: String) {
    def path(t: String) = s"$store/$t"
    def read(t: String): DataFrame = spark.read.parquet(path(t))
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(path(t))
    /** Register every materialized table in the store as a view — whatever
      * load/rollup/chunk wrote (events, event_metrics, metric_baselines,
      * rollups_{N}s, chunks, ...), so `query`/`export` SQL can reach it. */
    def registerAll(): Unit = {
      val dirs = Option(new java.io.File(store).listFiles()).getOrElse(Array())
      // a completed PARQUET table: _SUCCESS plus at least one .parquet
      // data file (directly, or one level down for partitioned layouts).
      // The marker alone is not enough — csv/json exports written into
      // the store dir also carry _SUCCESS and must not register.
      def hasParquet(d: java.io.File): Boolean = {
        val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        kids.exists(f => f.isFile && f.getName.endsWith(".parquet")) ||
          kids.exists(f => f.isDirectory && hasParquet(f))
      }
      dirs.filter(d => d.isDirectory &&
          new java.io.File(d, "_SUCCESS").exists() && hasParquet(d))
        .foreach(d => read(d.getName).createOrReplaceTempView(d.getName))
    }
  }

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Parses and runs; returns an exit code (testable without exiting). */
  def run(args: Array[String],
      sessionOverride: Option[SparkSession] = None): Int = {
    var db = "graft_store"
    val rest = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--db" => db = args(i + 1); i += 2
        case a => rest += a; i += 1
      }
    }
    if (rest.isEmpty) { println(usage); return 1 }
    val spark = sessionOverride.getOrElse(GraftSession.build("graft-cli"))
    val ctx = Ctx(spark, db)
    try {
      rest.head match {
        case "init" => init(ctx)
        case "load" => load(ctx, rest.tail.toSeq)
        case "parse" => parse(ctx, rest.tail.toSeq)
        case "query" => query(ctx, rest.tail.toSeq)
        case "stats" => stats(ctx)
        case "export" => export(ctx, rest.tail.toSeq)
        case "pipeline" => load(ctx, rest.tail.toSeq); rollup(ctx, Seq()); stats(ctx)
        case "rollup" => rollup(ctx, rest.tail.toSeq)
        case "chunk" => chunk(ctx, rest.tail.toSeq)
        case "forced-recovery" => forcedRecovery(ctx, rest.tail.toSeq)
        case "detect" => detect(ctx)
        case "compact" =>
          val (b, a) = graft.sources.Store.compactEvents(
            ctx.spark, ctx.path("events"))
          println(s"compacted events: $b files -> $a files")
        case other => println(s"unknown command: $other\n$usage"); return 1
      }
      0
    } finally if (sessionOverride.isEmpty) spark.stop()
  }

  val usage: String =
    """graft-log-analyzer — FoundationDB trace log analysis on Spark
      |  --db <dir>                 table store directory (default graft_store)
      |  init                       initialize an empty store
      |  load <path> [--stable-ids] ingest XML/JSON/plaintext logs + derive tables
      |       [--all]               path is a directory: recursively ingest every
      |                             .xml/.json/.log/.txt file, sorted
      |  parse <path> [--limit N]   parse and display, no storage
      |  query <sql>                SQL over events/event_metrics/... views
      |  stats                      severity/event/role/time-span report
      |  export <sql> <out> [--format csv|json|parquet] [--partitions N]
      |  pipeline <path>            load + rollup + stats
      |  rollup [--interval N]      materialize rollups_{N}s
      |  chunk [--marker E]         marker-based chunking + 500/100 splits
      |  forced-recovery [--trigger-comment S]
      |                             chunk trigger→StatusCode=14 windows; trigger =
      |                             CodeCoverage whose Comment contains S
      |                             (default "forced recovery", case-insensitive)
      |  detect                     run the detector battery
      |  compact                    rewrite the events table into one ts-sorted
      |                             file per date partition (merges the small
      |                             files streaming ingest appends)
      |""".stripMargin

  private def init(ctx: Ctx): Unit = {
    new java.io.File(ctx.store).mkdirs()
    println(s"initialized store at ${ctx.store}")
  }

  private def load(ctx: Ctx, args: Seq[String]): Unit = {
    val stable = args.contains("--stable-ids")
    val all = args.contains("--all")
    val path = args.filterNot(_.startsWith("--")).headOption
      .getOrElse(sys.error("load requires a path"))
    val events = (if (all) {
      val files = TraceEvents.discover(path)
      if (files.isEmpty) sys.error(s"no supported log files under $path")
      println(s"loading ${files.length} files: ${files.take(5).mkString(", ")}" +
        (if (files.length > 5) ", ..." else ""))
      TraceEvents.loadAll(ctx.spark, files, stableIds = stable)
    } else TraceEvents.load(ctx.spark, path, stableIds = stable)).cache()
    // the events write materializes the cache; the five derived tables
    // then all read cached events and write to independent directories —
    // submit them as concurrent jobs (same win on a cluster: independent
    // write stages overlap instead of serializing on the driver)
    ctx.write(events, "events")
    val metrics = DerivedTables.eventMetrics(events)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    // dedicated bounded pool (not the global EC shared with library
    // callers); every write's outcome is collected so a multi-failure
    // load reports ALL failed tables, not just the first awaited one
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val writes = Seq[(String, () => DataFrame)](
        "event_metrics" -> (() => metrics),
        "events_wide" -> (() => DerivedTables.eventsWide(events)),
        "processes" -> (() => DerivedTables.processes(events)),
        "process_roles" -> (() => DerivedTables.processRoles(events)),
        "metric_baselines" ->
          (() => DerivedTables.metricBaselines(metrics, minCount = 5))
      ).map { case (t, df) => Future(t -> Try(ctx.write(df(), t))) }
      val outcomes = Await.result(Future.sequence(writes), Duration.Inf)
      val failed = outcomes.collect { case (t, Failure(e)) => t -> e }
      if (failed.nonEmpty) {
        failed.foreach { case (t, e) =>
          System.err.println(s"[load] write of $t failed: ${e.getMessage}") }
        throw new RuntimeException(
          s"derived-table writes failed: ${failed.map(_._1).mkString(", ")}",
          failed.head._2)
      }
    } finally pool.shutdown()
    println(s"loaded ${events.count()} events from $path into ${ctx.store}")
  }

  private def parse(ctx: Ctx, args: Seq[String]): Unit = {
    val limit = opt(args, "--limit").map(_.toInt).getOrElse(10)
    val path = positionals(args, Set("--limit")).headOption
      .getOrElse(sys.error("parse requires a path"))
    TraceEvents.load(ctx.spark, path).show(limit, truncate = false)
  }

  private def query(ctx: Ctx, args: Seq[String]): Unit = {
    ctx.registerAll()
    ctx.spark.sql(args.mkString(" ")).show(50, truncate = false)
  }

  private def stats(ctx: Ctx): Unit = {
    val events = ctx.read("events").cache()
    println(s"events: ${events.count()}")
    println("— severity distribution —")
    GlobalScanner.severityCounts(events).show()
    println("— top event types —")
    GlobalScanner.eventHistogram(events, 5).show(truncate = false)
    println("— top roles —")
    events.filter(col("role").isNotNull).groupBy("role")
      .agg(count(lit(1)).as("n")).orderBy(col("n").desc).show(10)
    println("— time span —")
    GlobalScanner.timeSpan(events).show(truncate = false)
  }

  private def export(ctx: Ctx, args: Seq[String]): Unit = {
    val fmt = opt(args, "--format").getOrElse("csv")
    // single-file output for CLI parity with the reference's one-CSV
    // export; --partitions N is the escape hatch for big extracts
    val parts = opt(args, "--partitions").map { p =>
      p.toIntOption.filter(_ >= 1)
        .getOrElse(sys.error(s"--partitions must be a positive integer, got '$p'"))
    }.getOrElse(1)
    val positional = positionals(args, Set("--format", "--partitions"))
    val (sql, out) = (positional(0), positional(1))
    ctx.registerAll()
    // coalesce can only REDUCE partition count — an explicit request for
    // more output files than the plan has partitions needs a repartition
    val base = ctx.spark.sql(sql)
    val df = if (parts == 1) base.coalesce(1) else base.repartition(parts)
    fmt match {
      case "csv" => df.write.mode("overwrite").option("header", "true").csv(out)
      case "json" => df.write.mode("overwrite").json(out)
      case "parquet" => df.write.mode("overwrite").parquet(out)
      case other => sys.error(s"unsupported format $other")
    }
    println(s"exported to $out ($fmt)")
  }

  private def rollup(ctx: Ctx, args: Seq[String]): Unit = {
    val interval = opt(args, "--interval").map(_.toInt).getOrElse(60)
    val metrics = ctx.read("event_metrics")
    ctx.write(DerivedTables.rollups(metrics, interval), s"rollups_${interval}s")
    println(s"created rollups_${interval}s")
  }

  private def chunk(ctx: Ctx, args: Seq[String]): Unit = {
    val marker = opt(args, "--marker").getOrElse("MasterRecoveryState")
    // cache: the chunk frame (carried-state scan + collect_list groupBy)
    // is read by BOTH sinks plus the count/report — without it the whole
    // chunker recomputes four times
    val chunks = Chunker.chunkByMarker(ctx.read("events"), marker).cache()
    try {
      ctx.write(chunks, "chunks")
      ctx.write(Chunker.splitChunks(chunks), "chunk_pieces")
      println(s"wrote ${chunks.count()} chunks")
      chunks.select("chunk_id", "start_event_id", "end_event_id", "n_events",
        "chunk_type").show()
    } finally chunks.unpersist(false)
  }

  /** Forced-recovery chunking (forced_recovery/chunk_logs.py:26-69):
    * trigger events open a chunk that runs to the first
    * MasterRecoveryState StatusCode=14. The trigger predicate is
    * CodeCoverage + Comment-substring because the reference's chunker
    * module is absent upstream — SURVEY.md W8 documents the semantics. */
  private def forcedRecovery(ctx: Ctx, args: Seq[String]): Unit = {
    val needle = opt(args, "--trigger-comment").getOrElse("forced recovery")
    val trigger = col("event") === "CodeCoverage" &&
      lower(element_at(col("fields"), "Comment")).contains(needle.toLowerCase)
    val chunks = Chunker.forcedRecoveryChunks(ctx.read("events"), trigger)
    ctx.write(chunks, "forced_recovery_chunks")
    println(s"wrote ${chunks.count()} forced-recovery chunks")
    chunks.show(truncate = false)
  }

  private def detect(ctx: Ctx): Unit = {
    val events = ctx.read("events").cache()
    val metrics = DerivedTables.eventMetrics(events)
    val baselines = DerivedTables.metricBaselines(metrics, minCount = 5)
    val battery = Seq(
      "storage_pressure" -> Detectors.storagePressureAnomalies(events, baselines),
      "ratekeeper_throttling" -> Detectors.ratekeeperThrottling(events),
      "missing_tlogs" -> Detectors.missingTlogs(events),
      "recovery_loop" -> Detectors.recoveryLoops(events),
      "coordination_loss" -> Detectors.coordinationLoss(events),
      "metric_anomalies" -> Detectors.metricAnomalies(events),
      "zscore_hotspots" -> Detectors.zscoreHotspots(events),
      "baseline_window_anomalies" ->
        Detectors.baselineWindowAnomalies(metrics, baselines))
    battery.foreach { case (name, df) =>
      Detectors.summary(df).withColumn("detector", lit(name))
        .select("detector", "detected", "count", "first_ts", "last_ts")
        .show(truncate = false)
    }
    println("— rollback analysis —")
    GlobalScanner.rollbackStatus(events).show(truncate = false)
    println("— timeline —")
    TimelineBuilder.build(events).show(truncate = false)
  }

  private def opt(args: Seq[String], flag: String): Option[String] = {
    val i = args.indexOf(flag)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** Strip the value-taking `flags` (skip flag + value) from the
    * argument list; what remains are the positionals. */
  private def positionals(args: Seq[String],
      flags: Set[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      if (flags.contains(args(i))) i += 2
      else { out += args(i); i += 1 }
    }
    out.toSeq
  }
}
