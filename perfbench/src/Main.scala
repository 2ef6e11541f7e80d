package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.LlmBoundary
import graft.sources.Store
import graft.trace._

/** Trace-pipeline benchmark: raw FDB trace logs → store → derived tables →
  * detectors → investigation → RCA, driven through the public functions of
  * each module by one client thread in a closed loop.
  *
  * Usage: perfbench.Main --workload <bulk_ingest|tail_append>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * The last stdout line is one JSON object: correct, attempted, failed and
  * the metrics (end-to-end ones with --trace 0, per-layer ones with
  * --trace 1). See BENCHMARK.json for what each workload is for.
  */
object Main {

  // ---- sizes -----------------------------------------------------------
  // An op is ~100 Spark actions whose cost is mostly per action, not per
  // event, so small corpora keep a run near a minute without changing
  // which layers dominate.
  val BulkEvents = 4000
  val TailBaseEvents = 6000
  val TailBatchEvents = 2500
  val Procs = 12
  val Parts = 4
  val DurationS = 3 * 3600
  val MinOps = 3

  val RcaConfig = RcaLoop.Config(maxIterations = 5, maxLlmCalls = 3)
  val Questions = Seq(
    "Why did the cluster go through recovery?",
    "What made the storage servers fall behind?",
    "Why were transaction logs lost?",
    "Why is commit latency high?")
  val StopReasons = Set("confidence_reached", "stalled", "max_iterations")

  val Layers = Seq("ingest", "store_write", "store_read", "store_compact",
    "derived", "detect", "investigate", "rca", "llm")
  val LayerCommon = Seq("self_s", "jobs", "tasks", "core_util",
    "max_task_share", "shuffle_bytes", "spill_bytes", "result_bytes")
  val DerivedParts = Seq("event_metrics", "events_wide", "processes",
    "process_roles", "baselines", "rollups")
  val DetectParts = Seq("battery", "gate", "hotspots", "baseline_windows",
    "rollback", "recovery_causes")
  val PerLayer: Seq[String] =
    Layers.flatMap(l => LayerCommon.map(m => s"$l.$m")) ++ Seq(
      "ingest.events", "ingest.input_bytes", "ingest.dropped_lines",
      "store_write.files", "store_write.output_bytes",
      "store_read.files", "store_read.input_bytes",
      "store_compact.bytes_rewritten") ++
    DerivedParts.map(p => s"derived.$p.self_s") ++
    DetectParts.map(p => s"detect.$p.self_s") ++ Seq(
      "detect.gate_flag_rate",
      "investigate.timeline.self_s", "investigate.chunks.self_s",
      "rca.iterations", "rca.jobs_per_iteration",
      "llm.calls", "llm.prompt_bytes",
      "unattributed_s", "trace_overhead")

  /** What one op reports: its wall time and the parts the end-to-end
    * metrics need; `extra` carries per-layer counts measured by the
    * benchmark itself (files, events, ratios); `fullWallS` adds the work
    * an op does after its clock stops (compaction, maintenance). */
  case class OpResult(wallS: Double, ingestRate: Option[Double],
      detectS: Option[Double], bytesPerEvent: Option[Double],
      extra: Map[String, Double], fullWallS: Double)

  class CheckFailed(msg: String) extends RuntimeException(msg)
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  def parquetFiles(d: File): Seq[File] = {
    val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
      kids.filter(_.isDirectory).flatMap(parquetFiles)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traced = args("--trace") == "1"
    val work = new File(args("--work"))
    rmTree(work); work.mkdirs()

    val spark = GraftSession.build("perfbench")
    val sc = spark.sparkContext
    val cores = GraftSession.cpus.toInt
    require(sc.defaultParallelism == cores,
      s"defaultParallelism ${sc.defaultParallelism} != $cores cores")
    val tracer = new Tracer(sc, traced)
    val pipe = new Pipeline(spark, tracer, work)
    val wl: Workload = workload match {
      case "bulk_ingest" => new BulkIngest(pipe, seed)
      case "tail_append" => new TailAppend(pipe, seed)
      case other => sys.error(s"unknown workload $other")
    }

    def log(s: String): Unit = System.err.println(s"[perfbench] $s")
    val setupTimes = (1 to wl.setupReps).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }
    log(s"setup_s ${setupTimes.mkString(" ")}")
    val calibration = calibrate(spark, cores)
    // one discarded op: JIT and codegen caches warm before timing
    val tw = System.nanoTime()
    wl.warmUp()
    spark.catalog.clearCache()
    log(s"warm-up op ${(System.nanoTime() - tw) / 1e9} s")

    var attempted = 0; var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val plain = mutable.ArrayBuffer.empty[OpResult]
    val withTrace = mutable.ArrayBuffer.empty[(OpResult, Map[String, Double])]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 1
    // a traced run needs MinOps traced ops and MinOps - 1 untraced ones
    def enough = System.nanoTime() >= deadline &&
      plain.size >= (if (traced) MinOps - 1 else wl.minOps) &&
      (!traced || withTrace.size >= MinOps)
    // a program that fails most ops is broken: stop spending the budget
    def broken = failed > 3 && failed * 2 > attempted
    while (!enough && !broken) {
      // a traced run alternates untraced and traced ops: the untraced
      // ones are the base of trace_overhead
      val traceThis = traced && wl.tracedOp(i)
      tracer.reset()
      tracer.on = traceThis
      attempted += 1
      try {
        val r = wl.op(i)
        tracer.on = false
        log(s"op $i traced=$traceThis ${r.wallS} s")
        if (traceThis) withTrace += r -> tracer.snapshot(cores)
        else plain += r
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally {
        tracer.on = false
        spark.catalog.clearCache()
      }
      i += 1
    }
    val finalExtra = try wl.finish() catch {
      case e: Throwable =>
        attempted += 1; failed += 1
        errors += s"finish: ${e.getClass.getSimpleName}: ${e.getMessage}"
        Map.empty[String, Double]
    }

    val metrics: Map[String, Double] =
      if (!traced) {
        val ok = plain.toSeq
        Map(
          "setup_s" -> median(setupTimes),
          "op_s_p50" -> median(ok.map(_.wallS)),
          "ingest_events_per_s" -> median(ok.flatMap(_.ingestRate)),
          "detect_s_p50" -> median(ok.flatMap(_.detectS)),
          "store_bytes_per_event" -> finalExtra.getOrElse("store_bytes_per_event",
            median(ok.flatMap(_.bytesPerEvent))),
          "ok_ratio" -> (attempted - failed).toDouble / attempted)
      } else {
        val per = withTrace.toSeq.map { case (r, snap) =>
          // llm time runs inside the rca span
          val layerWall = Layers.filter(_ != "llm")
            .map(l => snap.getOrElse(s"$l.wall_s", 0.0)).sum
          snap ++ r.extra ++
            snap.get("store_compact.output_bytes")
              .map("store_compact.bytes_rewritten" -> _) ++
            r.extra.get("rca.iterations").filter(_ > 0).map(it =>
              "rca.jobs_per_iteration" -> snap.getOrElse("rca.jobs", 0.0) / it) +
            ("unattributed_s" -> math.max(0.0, r.fullWallS - layerWall))
        }
        val overhead = median(withTrace.toSeq.map(_._1.wallS)) /
          median(plain.toSeq.map(_.wallS))
        printLayerTable(per, withTrace.toSeq.map(_._1.wallS))
        // each figure is a median over the traced ops that measured it
        PerLayer.map { k =>
          k -> (if (k == "trace_overhead") overhead
            else median(per.flatMap(_.get(k))))
        }.toMap
      }
    printResult(failed == 0, attempted, failed, metrics, errors.toSeq, workload,
      seed, calibration, spark)
    spark.stop()
    rmTree(work)
  }

  /** A fixed CPU-bound Spark job, timed (median of 3) so results from
    * different machines or loads can be put side by side. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, cores)
        .select(bit_xor(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    median(ts)
  }

  def printLayerTable(per: Seq[Map[String, Double]], walls: Seq[Double]): Unit = {
    println(f"per-layer medians over ${per.size} traced ops (op wall ${median(walls)}%.3f s)")
    println(f"${"layer"}%-12s ${"self_s"}%9s ${"jobs"}%6s ${"tasks"}%7s ${"core_util"}%9s ${"max_task"}%8s ${"shuffle_B"}%11s ${"spill_B"}%9s ${"result_B"}%10s")
    Layers.foreach { l =>
      val ran = per.filter(_.contains(s"$l.self_s"))
      def m(k: String) = median(ran.map(_.getOrElse(s"$l.$k", 0.0)))
      println(f"$l%-12s ${m("self_s")}%9.3f ${m("jobs")}%6.0f ${m("tasks")}%7.0f ${m("core_util")}%9.3f ${m("max_task_share")}%8.3f ${m("shuffle_bytes")}%11.0f ${m("spill_bytes")}%9.0f ${m("result_bytes")}%10.0f")
    }
  }

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def printResult(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, Double], errors: Seq[String], workload: String,
      seed: Long, calibration: Double, spark: SparkSession): Unit = {
    errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    println("provenance " + Seq(
      "workload" -> json(workload), "seed" -> seed.toString,
      "source_rev" -> json(sys.env.getOrElse("PERFBENCH_SOURCE_REV", "unknown")),
      "jvm" -> json(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> json(spark.version),
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "calibration_s" -> num(calibration))
      .map { case (k, v) => s"${json(k)}: $v" }.mkString("{", ", ", "}"))
    val unit: String => String = {
      case "ingest_events_per_s" => "events/s"
      case "store_bytes_per_event" => "B/event"
      case k if k.endsWith("_s") || k.endsWith("_s_p50") => "s"
      case k if k.endsWith("bytes") || k.endsWith("bytes_rewritten") => "B"
      case k if k.endsWith("core_util") || k.endsWith("share") ||
        k.endsWith("ratio") || k.endsWith("rate") || k == "trace_overhead" => "ratio"
      case _ => "count"
    }
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${json(k)}: {${json("value")}: ${num(v)}, ${json("unit")}: ${json(unit(k))}}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}""")
  }
}

/** Calls into the pipeline modules, one span per layer. The call order and
  * parameters mirror `Cli load --all --stable-ids`, `Cli rollup`,
  * `Cli detect` and `Cli chunk`; the store goes through `Store`'s
  * partitioned layout. */
final class Pipeline(val spark: SparkSession, val tr: Tracer, val work: File) {
  import Main._

  /** Parse + normalize with contiguous ids, materialised (cached) so the
    * parse is billed to ingest rather than to the first writer. `offset`
    * continues event ids across batches. */
  def ingest(files: Seq[String], offset: Long): (DataFrame, Long) =
    tr.span("ingest") {
      val ev = TraceEvents.loadAll(spark, files, stableIds = true)
      val shifted =
        if (offset == 0) ev else ev.withColumn("event_id", col("event_id") + offset)
      val c = shifted.cache()
      (c, c.count())
    }

  def storeWrite(ev: DataFrame, dir: String, mode: String): Unit =
    tr.span("store_write")(Store.writeEvents(ev, dir, mode))

  /** Store read as `Cli detect` does it: read, cache, materialise. */
  def storeRead(dir: String): (DataFrame, Long) = tr.span("store_read") {
    val ev = Store.readEvents(spark, dir).cache()
    (ev, ev.count())
  }

  /** The five concurrent derived-table writes of `Cli load`, then the
    * rollup of `Cli rollup` over the written event_metrics. */
  def derived(ev: DataFrame, tables: File): Unit = tr.span("derived") {
    def path(t: String) = new File(tables, t).getPath
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(path(t))
    val metrics = DerivedTables.eventMetrics(ev)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val writes = Seq[(String, String, () => DataFrame)](
        ("event_metrics", "event_metrics", () => metrics),
        ("events_wide", "events_wide", () => DerivedTables.eventsWide(ev)),
        ("processes", "processes", () => DerivedTables.processes(ev)),
        ("process_roles", "process_roles", () => DerivedTables.processRoles(ev)),
        ("baselines", "metric_baselines",
          () => DerivedTables.metricBaselines(metrics, minCount = 5)))
        .map { case (span, t, df) =>
          Future(tr.span(s"derived.$span")(write(df(), t))) }
      Await.result(Future.sequence(writes), Duration.Inf)
    } finally pool.shutdown()
    tr.span("derived.rollups") {
      write(DerivedTables.rollups(spark.read.parquet(path("event_metrics")), 60),
        "rollups_60s")
    }
  }

  case class DetectOut(battery: Map[String, Row], gateFlagRate: Double,
      causes: Option[Seq[Row]])

  /** The named parts of `DetectParts` over the store's events: `Cli
    * detect`'s battery, the gate, hotspots, baseline windows, rollback
    * analysis and recovery causes. */
  def detect(ev: DataFrame, parts: Set[String]): DetectOut =
      tr.span("detect") {
    val metrics = DerivedTables.eventMetrics(ev)
    val baselines = DerivedTables.metricBaselines(metrics, minCount = 5)
    def part[T](name: String)(body: => T): Option[T] =
      if (parts(name)) Some(tr.span(s"detect.$name")(body)) else None
    val battery = part("battery")(Detectors.battery(ev, baselines).collect())
    val gate = part("gate")(Detectors.metricAnomalySummary(ev).collect().head)
    part("hotspots")(Detectors.zscoreHotspots(ev).collect())
    part("baseline_windows")(
      Detectors.baselineWindowAnomalies(metrics, baselines).collect())
    part("rollback")(GlobalScanner.rollbackStatus(ev).collect())
    val causes = part("recovery_causes")(RecoveryDetector.withCauses(
      ev, RecoveryDetector.recoveries(ev)).collect().toSeq)
    DetectOut(
      battery.toSeq.flatten.map(r => r.getAs[String]("detector") -> r).toMap,
      gate.map(g => g.getAs[Long]("anomalies_detected").toDouble /
        math.max(1L, g.getAs[Long]("total_events"))).getOrElse(Double.NaN),
      causes)
  }

  def timeline(ev: DataFrame): Row =
    tr.span("investigate")(tr.span("investigate.timeline")(
      TimelineBuilder.build(ev).collect().head))

  def chunks(ev: DataFrame): Long = tr.span("investigate") {
    tr.span("investigate.chunks")(Chunker.chunkByMarker(ev)
      .select(col("chunk_id"), col("n_events"), length(col("chunk_content")))
      .collect().length.toLong)
  }

  /** One RCA investigation with the stub LLM behind the timing wrapper;
    * checks the trace ends with a valid stop reason. Returns iterations. */
  def investigate(ev: DataFrame, question: String): Int = {
    val rows = tr.span("rca")(RcaLoop.investigate(ev, question,
      new TimedClient(new LlmBoundary.StubClient), RcaConfig).collect())
    check(rows.nonEmpty, "RCA returned no iterations")
    val last = rows.maxBy(_.getAs[Int]("iteration"))
    check(StopReasons(last.getAs[String]("stop_reason")),
      s"RCA stop reason '${last.getAs[String]("stop_reason")}' is not valid")
    rows.length
  }

  /** `Store.compactEvents`, then checks the compacted store's row count. */
  def compact(dir: String, rows: Long): Unit = {
    tr.span("store_compact")(Store.compactEvents(spark, dir))
    val after = spark.read.parquet(Store.currentDataDir(dir)).count()
    check(after == rows, s"compaction kept $after of $rows rows")
  }

  def storeBytes(dir: String): Long =
    parquetFiles(new File(Store.currentDataDir(dir))).map(_.length).sum

  def storeFiles(dir: String): Int =
    parquetFiles(new File(Store.currentDataDir(dir))).size
}

trait Workload {
  /** How many times a run sets up; setup_s is their median. */
  def setupReps: Int = 3
  /** The fewest ops an untraced run measures. */
  def minOps: Int = Main.MinOps
  def setup(): Unit
  def op(i: Int): Main.OpResult
  /** An untimed op before measuring, so JIT and codegen caches are warm. */
  def warmUp(): Unit = op(0)
  /** Which ops a traced run traces; the others are its untraced base. */
  def tracedOp(i: Int): Boolean = i % 2 == 1
  /** End-of-run work; may return final metric overrides. */
  def finish(): Map[String, Double] = Map.empty
}

object Checks {
  import Main._
  def inWindow(ts: Timestamp, w: Corpus.Window): Boolean =
    ts != null && ts.getTime / 1000 >= w.start && ts.getTime / 1000 <= w.end

  /** The battery flags each injected scenario inside its window, and, when
    * recovery causes were computed, the TLog-failure recovery is
    * attributed to its injected cause. */
  def scenarios(d: Pipeline#DetectOut, m: Corpus.Manifest): Unit = {
    val w = m.windows.map(x => x.name -> x).toMap
    def row(n: String) = d.battery.getOrElse(n,
      throw new CheckFailed(s"battery has no $n row"))
    val tl = row("missing_tlogs")
    check(tl.getAs[Boolean]("detected") &&
      inWindow(tl.getAs[Timestamp]("first_ts"), w("tlog_failure")) &&
      inWindow(tl.getAs[Timestamp]("last_ts"), w("tlog_failure")),
      s"missing_tlogs not flagged inside the TLog-failure window: $tl")
    val rl = row("recovery_loop")
    check(rl.getAs[Boolean]("detected") &&
      inWindow(rl.getAs[Timestamp]("last_ts"), w("recovery_cascade")),
      s"recovery_loop not flagged inside the cascade window: $rl")
    val sp = row("storage_pressure")
    check(sp.getAs[Boolean]("detected") &&
      inWindow(sp.getAs[Timestamp]("first_ts"), w("storage_pressure")) &&
      inWindow(sp.getAs[Timestamp]("last_ts"), w("storage_pressure")),
      s"storage_pressure not flagged inside the pressure window: $sp")
    d.causes.foreach(cs => check(cs.exists(r =>
      inWindow(r.getAs[Timestamp]("recovery_ts"), w("tlog_failure")) &&
        Option(r.getAs[String]("cause")).exists(_.contains("tLog failure"))),
      "no TLog-window recovery attributed to the tLog failure"))
  }
}

/** Cold runs from 48 raw rollover files to an RCA report. Ops 5, 9, …
  * then run, off their clock, the maintenance pass: compaction, the rest
  * of the detectors and the chunker. An untraced run rarely reaches op 5;
  * a traced run always does, and traces it. */
final class BulkIngest(p: Pipeline, seed: Long) extends Workload {
  import Main._
  override def setupReps: Int = 15
  private val logs = new File(p.work, "logs")
  private var manifest: Corpus.Manifest = _

  /** The JIT keeps speeding ops up over the first few, so two ops warm up
    * and an untraced run measures the next two (flatter than three taken
    * one op earlier, at the same cost). */
  override def warmUp(): Unit = {
    op(0)
    p.spark.catalog.clearCache()
    op(0)
  }
  override def minOps: Int = 2

  def setup(): Unit = {
    rmTree(logs); logs.mkdirs()
    manifest = Corpus.writeBase(logs, seed, BulkEvents, Procs, Parts, DurationS)
  }

  def op(i: Int): OpResult = {
    val store = new File(p.work, "store"); rmTree(store)
    val tables = new File(p.work, "tables"); rmTree(tables)
    val files = TraceEvents.discover(logs.getPath)
    val t0 = System.nanoTime()
    val (ev, n) = p.ingest(files, 0)
    p.storeWrite(ev, store.getPath, "overwrite")
    p.derived(ev, tables)
    val t1 = System.nanoTime()
    ev.unpersist(false)
    val (stored, ns) = p.storeRead(store.getPath)
    val d = p.detect(stored, Set("battery", "gate", "rollback"))
    p.timeline(stored)
    val t2 = System.nanoTime()
    val iterations = p.investigate(stored, Questions(i % Questions.size))
    val t3 = System.nanoTime()
    val writtenFiles = p.storeFiles(store.getPath)
    check(n == manifest.events, s"ingested $n events, generated ${manifest.events}")
    check(ns == n, s"store holds $ns rows, ingested $n")
    Checks.scenarios(d, manifest)
    if (i % 4 == 1 && i > 1) {
      p.compact(store.getPath, ns)
      val rest = p.detect(stored, Set("hotspots", "baseline_windows",
        "recovery_causes"))
      Checks.scenarios(d.copy(causes = rest.causes), manifest)
      p.chunks(stored)
    }
    val t4 = System.nanoTime()
    val extra =
      if (!p.tr.on) Map.empty[String, Double]
      else Map("ingest.events" -> n.toDouble,
        "ingest.dropped_lines" -> (manifest.lines - n).toDouble,
        "store_write.files" -> writtenFiles.toDouble,
        "store_read.files" -> writtenFiles.toDouble,
        "detect.gate_flag_rate" -> d.gateFlagRate,
        "rca.iterations" -> iterations.toDouble)
    OpResult((t3 - t0) / 1e9, Some(n / ((t1 - t0) / 1e9)), Some((t2 - t1) / 1e9),
      Some(p.storeBytes(store.getPath).toDouble / n), extra, (t4 - t0) / 1e9)
  }
}

/** Small appends to a live store: parse a new rollover file, append it,
  * re-read the store and rerun the battery and the gate. Every 6th op then
  * runs, off its clock, the store's maintenance pass: compaction, derived
  * tables rebuilt over the store, the rest of the detectors, the
  * investigation tools and one RCA investigation. Ops are short, so a run
  * measures at least 5 of them; only a traced run reaches op 6. */
final class TailAppend(p: Pipeline, seed: Long) extends Workload {
  import Main._
  private val logs = new File(p.work, "logs")
  private val batches = new File(p.work, "batches")
  private val store = new File(p.work, "store")
  private val tables = new File(p.work, "tables")
  private var total = 0L
  private var step = 0
  private var lastCompacted = -1
  private var manifest: Corpus.Manifest = _

  def setup(): Unit = {
    rmTree(logs); logs.mkdirs(); rmTree(store); rmTree(batches); batches.mkdirs()
    manifest = Corpus.writeBase(logs, seed, TailBaseEvents, Procs, Parts, DurationS)
    val (ev, n) = p.ingest(TraceEvents.discover(logs.getPath), 0)
    p.storeWrite(ev, store.getPath, "overwrite")
    ev.unpersist(false)
    check(n == manifest.events, s"base ingested $n events, generated ${manifest.events}")
    total = n; step = 0; lastCompacted = -1
  }

  private def compact(): Unit = {
    p.compact(store.getPath, total)
    lastCompacted = step
  }

  override def minOps: Int = 5

  override def warmUp(): Unit = { runStep(0, maintain = false); () }

  def op(i: Int): OpResult = runStep(i, maintain = i % 6 == 0)

  /** Even ops, so the maintenance pass of op 6 is traced. */
  override def tracedOp(i: Int): Boolean = i % 2 == 0

  private def runStep(i: Int, maintain: Boolean): OpResult = {
    step += 1
    val t0s = Corpus.DayStart + 3600.0 + DurationS + 60.0 * (step - 1)
    val (file, expect, lines) = Corpus.writeBatch(batches, seed, step,
      TailBatchEvents, Procs, t0s, 60.0)
    val filesBefore = if (p.tr.on) p.storeFiles(store.getPath) else 0
    val t0 = System.nanoTime()
    val (ev, n) = p.ingest(Seq(file.getPath), total)
    p.storeWrite(ev, store.getPath, "append")
    val t1 = System.nanoTime()
    ev.unpersist(false)
    val (stored, ns) = p.storeRead(store.getPath)
    val d = p.detect(stored, Set("battery", "gate"))
    val t2 = System.nanoTime()
    total += n
    check(n == expect, s"batch $step ingested $n of $expect events")
    check(ns == total, s"store holds $ns rows, expected $total")
    Checks.scenarios(d, manifest)
    val readFiles = p.storeFiles(store.getPath)
    var iterations = 0
    if (maintain) {
      compact()
      rmTree(tables)
      p.derived(stored, tables)
      val rest = p.detect(stored, Set("hotspots", "baseline_windows",
        "rollback", "recovery_causes"))
      Checks.scenarios(d.copy(causes = rest.causes), manifest)
      p.timeline(stored)
      p.chunks(stored)
      iterations = p.investigate(stored, Questions(i % Questions.size))
    }
    val t3 = System.nanoTime()
    val extra =
      if (!p.tr.on) Map.empty[String, Double]
      else Map("ingest.events" -> n.toDouble,
        "ingest.dropped_lines" -> (lines - n).toDouble,
        "store_write.files" -> (readFiles - filesBefore).toDouble,
        "store_read.files" -> readFiles.toDouble,
        "detect.gate_flag_rate" -> d.gateFlagRate) ++
        (if (maintain) Map("rca.iterations" -> iterations.toDouble) else Map.empty)
    OpResult((t2 - t0) / 1e9, Some(n / ((t1 - t0) / 1e9)), Some((t2 - t1) / 1e9),
      None, extra, (t3 - t0) / 1e9)
  }

  /** Compacts once more unless the last op did, and reports the
    * compacted store's bytes per event. */
  override def finish(): Map[String, Double] = {
    if (lastCompacted != step) compact()
    Map("store_bytes_per_event" -> p.storeBytes(store.getPath).toDouble / total)
  }
}
