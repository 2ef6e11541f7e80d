package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable.ArrayBuffer

/** Seeded, byte-deterministic generator of FoundationDB TraceEvent logs.
  *
  * It writes rollover files named `trace.<ip>.<port>.<epoch>.<rand>.<seq>.<part>.<ext>`,
  * about three quarters XML (one self-closing `<Event .../>` per line) and
  * one quarter JSON-lines (all values quoted strings, blank lines, and
  * `key=value` lines the reader must parse through its plaintext fallback).
  * Payloads cover dotted keys (`P99.9`), the ±1.79769e+308 sentinels,
  * multi-token values, MasterRecoveryState StatusCode 0–14 and CodeCoverage
  * comments.
  *
  * A base corpus carries three injected failures at known times: a TLog
  * failure with the recovery it causes, a recovery cascade and a
  * storage-pressure episode. Their windows go to `ground_truth.manifest`
  * beside the logs (a suffix the log discovery skips). The same arguments always give the same bytes.
  */
object Corpus {

  case class Window(name: String, start: Long, end: Long)

  case class Manifest(events: Long, lines: Long, bytes: Long, files: Int,
      windows: Seq[Window])

  private case class Proc(idx: Int, ip: String, roles: String, rand: String,
      json: Boolean)

  private val dtFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  /** 2026-03-02T00:00:00Z: every generated corpus stays inside this day. */
  val DayStart: Long = 1772409600L

  private def roleOf(i: Int): String = i match {
    case 0 => "MS,CC"
    case 1 | 2 => "TL"
    case 3 => "CP,GP"
    case 4 => "RK"
    case _ => "SS"
  }

  private def procs(n: Int, seed: Long, jsonEvery: Int): Seq[Proc] =
    (0 until n).map { i =>
      val r = new SplittableRandom(seed * 7919L + i)
      val rand = (0 until 6).map(_ => {
        val a = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        a.charAt(r.nextInt(a.length))
      }).mkString
      Proc(i, s"10.0.${i / 250}.${i % 250 + 1}", roleOf(i), rand,
        json = jsonEvery > 0 && i % jsonEvery == jsonEvery - 1)
    }

  private def num(d: Double): String = String.format(Locale.ROOT, "%.4f", d)

  /** One event: its time and ordered attributes (envelope first). */
  private case class Ev(t: Double, attrs: Seq[(String, String)])

  private class Emitter(p: Proc, rnd: SplittableRandom) {
    val out = ArrayBuffer.empty[Ev]
    var line = 100
    def emit(t: Double, sev: Int, tpe: String,
        payload: Seq[(String, String)]): Unit = {
      line += 1 + rnd.nextInt(40)
      val env = Seq(
        "Severity" -> sev.toString,
        "Time" -> String.format(Locale.ROOT, "%.6f", t),
        "DateTime" -> dtFmt.format(Instant.ofEpochSecond(t.toLong)),
        "Type" -> tpe,
        "ID" -> f"${rnd.nextLong()}%016x",
        "ThreadID" -> (rnd.nextLong() & Long.MaxValue).toString,
        "Machine" -> s"${p.ip}:4500",
        "LogGroup" -> "default",
        "Roles" -> p.roles,
        "File" -> "fdbserver/worker.actor.cpp",
        "Line" -> line.toString)
      out += Ev(t, env ++ payload)
    }
  }

  private def latencyStats(r: SplittableRandom, scale: Double): Seq[(String, String)] =
    if (r.nextInt(20) == 0)
      Seq("Count" -> "0", "Elapsed" -> "5.0000", "Min" -> "1.79769e+308",
        "Max" -> "-1.79769e+308", "Mean" -> "0", "Median" -> "0",
        "P25" -> "0", "P90" -> "0", "P95" -> "0", "P99" -> "0", "P99.9" -> "0")
    else {
      val mean = scale * (0.5 + r.nextDouble())
      Seq("Count" -> (50 + r.nextInt(500)).toString, "Elapsed" -> "5.0000",
        "Min" -> num(mean * 0.2), "Max" -> num(mean * 4.0),
        "Mean" -> num(mean), "Median" -> num(mean * 0.9),
        "P25" -> num(mean * 0.6), "P90" -> num(mean * 1.8),
        "P95" -> num(mean * 2.2), "P99" -> num(mean * 3.0),
        "P99.9" -> num(mean * 3.8))
    }

  /** Background traffic of one process over [t0, t1). `lagAt` gives the
    * storage lag multiplier at a time (1 outside the pressure window). */
  private def background(e: Emitter, p: Proc, r: SplittableRandom,
      t0: Double, t1: Double, n: Int, lagAt: Double => Double,
      first: Boolean): Unit = {
    if (first)
      e.emit(t0, 10, "ProgramStart", Seq("Version" -> "7.3.63",
        "CommandLine" -> s"fdbserver --listen-address ${p.ip}:4500 --public-address ${p.ip}:4500 --datadir /var/fdb/data/4500 --logdir /var/fdb/logs"))
    val dt = (t1 - t0) / n
    var k = if (first) 1 else 0
    while (k < n) {
      val t = t0 + (k + r.nextDouble() * 0.9) * dt
      val roll = r.nextInt(100)
      if (roll < 2)
        e.emit(t, 20, "SlowTask", Seq("TaskID" -> r.nextInt(9000).toString,
          "Duration" -> num(0.05 + r.nextDouble() * 0.2)))
      else if (roll < 14)
        e.emit(t, 10, "ProcessMetrics", Seq(
          "CPUSeconds" -> num(r.nextDouble() * 5), "MainThreadCPUSeconds" ->
            num(r.nextDouble() * 4), "Memory" -> (1L << 28 | r.nextInt(1 << 24)).toString,
          "ResidentMemory" -> (1L << 27 | r.nextInt(1 << 24)).toString))
      else if (roll < 24)
        e.emit(t, 10, "DiskMetrics", Seq("ReadOps" -> r.nextInt(400).toString,
          "WriteOps" -> r.nextInt(900).toString,
          "DiskQueue" -> (r.nextInt(1 << 20)).toString))
      else if (p.roles == "SS") {
        val m = lagAt(t)
        if (roll < 70) {
          val lag = (2000 + r.nextInt(6000)) * m
          e.emit(t, 10, "StorageMetrics", Seq(
            "VersionLag" -> f"${lag.toLong}%d",
            "DurabilityLag" -> f"${(lag * 1.2).toLong}%d",
            "BytesInput" -> (1000000L + r.nextInt(1 << 20)).toString,
            "Version" -> (5000000L + (t - DayStart).toLong * 1000000L).toString,
            "DurableVersion" -> (4990000L + (t - DayStart).toLong * 1000000L).toString,
            "FetchKeysFetchActive" -> s"${r.nextInt(3)} ${r.nextInt(3)} -1",
            "KvstoreBytesUsed" -> (1L << 30 | r.nextInt(1 << 28)).toString))
        } else
          e.emit(t, 10, "ReadLatencyMetrics", latencyStats(r, 0.002 * m))
      } else if (p.roles == "TL")
        e.emit(t, 10, "TLogMetrics", Seq(
          "BytesInput" -> (800000L + r.nextInt(1 << 20)).toString,
          "BytesDurable" -> (790000L + r.nextInt(1 << 20)).toString,
          "QueueSize" -> r.nextInt(1 << 22).toString))
      else if (p.roles == "CP,GP") {
        if (roll < 55)
          e.emit(t, 10, "ProxyMetrics", Seq(
            "CommittedVersion" -> (1000000L + ((t - DayStart) * 1e6).toLong).toString,
            "TxnCommitIn" -> r.nextInt(3000).toString,
            "Mutations" -> r.nextInt(20000).toString))
        else if (roll < 78)
          e.emit(t, 10, "GRVProxyMetrics", latencyStats(r, 0.001))
        else
          e.emit(t, 10, "CommitLatencyMetrics", latencyStats(r, 0.004))
      } else if (p.roles == "RK")
        e.emit(t, 10, "RkUpdate", Seq("TPSLimit" -> num(1e6 / lagAt(t)),
          "ReleasedTPS" -> num(2000 + r.nextDouble() * 500),
          "WorstStorageServerQueue" -> (10000L + r.nextInt(50000)).toString))
      else if (roll < 40)
        e.emit(t, 10, "CodeCoverage", Seq("Comment" -> "Normal path taken",
          "Covered" -> "1"))
      else
        e.emit(t, 10, "MasterMetrics", Seq("Version" ->
          (1000000L + ((t - DayStart) * 1e6).toLong).toString,
          "ReportedVersion" -> (999000L + ((t - DayStart) * 1e6).toLong).toString))
      k += 1
    }
  }

  /** One recovery attempt by the master: StatusCode 0..`upTo` 2 s apart. */
  private def recovery(e: Emitter, t: Double, upTo: Int): Unit =
    (0 to upTo).foreach { c =>
      e.emit(t + 2.0 * c, if (c == 0) 20 else 10, "MasterRecoveryState",
        Seq("StatusCode" -> c.toString,
          "Status" -> graft.trace.RecoveryDetector.RecoveryStates(c)))
    }

  /** Writes the base corpus: `nEvents` background events (plus injected
    * ones) from `nProcs` processes over `durationS` seconds, each process
    * rolled into `parts` files. Returns the manifest, also written as
    * `ground_truth.manifest`. */
  def writeBase(dir: File, seed: Long, nEvents: Int, nProcs: Int,
      parts: Int, durationS: Int): Manifest = {
    val t0 = DayStart + 3600.0
    val t1 = t0 + durationS
    val tlog = Window("tlog_failure", (t0 + 0.2 * durationS).toLong,
      (t0 + 0.2 * durationS).toLong + 120)
    val cascade = Window("recovery_cascade", (t0 + 0.45 * durationS).toLong,
      (t0 + 0.45 * durationS).toLong + 400)
    val pressure = Window("storage_pressure", (t0 + 0.7 * durationS).toLong,
      (t0 + 0.7 * durationS).toLong + 900)
    val mid = (pressure.start + pressure.end) / 2.0
    val lagAt: Double => Double = t =>
      if (t < pressure.start + 60 || t > pressure.end - 60) 1.0
      else 1.0 + 400.0 * (1.0 - math.abs(t - mid) / (mid - pressure.start))
    val ps = procs(nProcs, seed, jsonEvery = 4)
    val byProc = ps.map { p =>
      val r = new SplittableRandom(seed * 1000003L + p.idx)
      val e = new Emitter(p, r)
      background(e, p, r, t0, t1, nEvents / nProcs, lagAt, first = true)
      p.roles match {
        case "TL" if p.idx == 1 =>
          e.emit(tlog.start + 1.0, 40, "TLogFailed", Seq("Error" -> "io_error",
            "ErrorCode" -> "1510"))
          (0 until 3).foreach(i => e.emit(tlog.start + 4.0 + 5 * i, 30,
            "TLogError", Seq("Error" -> "connection_failed")))
        case "MS,CC" =>
          e.emit(tlog.start + 2.0, 10, "CodeCoverage", Seq(
            "Comment" -> "Terminated due to tLog failure", "Covered" -> "1"))
          recovery(e, tlog.start + 3.0, 14)
          (0 until 5).foreach { i =>
            val t = cascade.start + 5.0 + 70 * i
            e.emit(t, 10, "CodeCoverage", Seq(
              "Comment" -> "Terminated due to master failure", "Covered" -> "1"))
            e.emit(t + 0.5, 30, "CoordinatorFailed", Seq(
              "Reason" -> "lost coordinated state lease"))
            recovery(e, t + 1.0, if (i == 4) 14 else 8)
          }
        case "RK" =>
          (0 until 20).foreach { i => e.emit(pressure.start + 120.0 + 30 * i,
            20, "RatekeeperThrottle", Seq("ThrottleReason" -> "storage_server_write_queue_size",
              "TPSLimit" -> num(1000.0 / (i + 1)))) }
        case _ =>
      }
      p -> e.out.sortBy(_.t).toSeq
    }
    // (events, lines, bytes) of each rollover file
    val files = byProc.flatMap { case (p, evs) =>
      val per = math.max(1, (evs.length + parts - 1) / parts)
      evs.grouped(per).zipWithIndex.map { case (chunk, part) =>
        val name = s"trace.${p.ip}.4500.${t0.toLong}.${p.rand}.0.${part + 1}." +
          (if (p.json) "json" else "xml")
        val (lines, bytes) = writeFile(new File(dir, name), chunk, p.json)
        (chunk.length.toLong, lines, bytes)
      }
    }
    val m = Manifest(files.map(_._1).sum, files.map(_._2).sum,
      files.map(_._3).sum, files.size, Seq(tlog, cascade, pressure))
    writeManifest(new File(dir, "ground_truth.manifest"), m)
    m
  }

  /** One tail batch: `nEvents` background events from every process over
    * `[t0, t0 + spanS)`, in one rollover file (XML, every 4th JSON).
    * Returns the file, its event count and its line count. */
  def writeBatch(dir: File, seed: Long, step: Int, nEvents: Int,
      nProcs: Int, t0: Double, spanS: Double): (File, Long, Long) = {
    val ps = procs(nProcs, seed, jsonEvery = 0)
    val evs = ps.flatMap { p =>
      val r = new SplittableRandom(seed * 1000003L + 7777L * (step + 1) + p.idx)
      val e = new Emitter(p, r)
      background(e, p, r, t0, t0 + spanS, nEvents / nProcs, _ => 1.0,
        first = false)
      e.out
    }.sortBy(_.t)
    val json = step % 4 == 3
    val f = new File(dir, f"trace.10.0.9.1.4500.${DayStart}%d.tail00.1.${step}%05d." +
      (if (json) "json" else "xml"))
    val (lines, _) = writeFile(f, evs, json)
    (f, evs.length.toLong, lines)
  }

  private def xmlAttr(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Returns (lines, bytes) written. JSON files put a blank line after
    * every 40th event and render every 50th event as `key=value` pairs. */
  private def writeFile(f: File, evs: Seq[Ev], json: Boolean): (Long, Long) = {
    val sb = new java.lang.StringBuilder(evs.length * 320)
    var lines = 0L
    def ln(s: String): Unit = { sb.append(s).append('\n'); lines += 1 }
    if (!json) { ln("<?xml version=\"1.0\"?>"); ln("<Trace>") }
    evs.zipWithIndex.foreach { case (ev, i) =>
      if (!json)
        ln(ev.attrs.map { case (k, v) => s"""$k="${xmlAttr(v)}"""" }
          .mkString("<Event ", " ", " />"))
      else if (i % 50 == 49)
        ln(ev.attrs.collect {
          case (k, v) if !v.contains(' ') && k.forall(_.isLetterOrDigit) =>
            s"$k=$v" }.mkString(" "))
      else {
        val extra = Seq("OriginalTime" -> ev.attrs(1)._2,
          "OriginalDateTime" -> ev.attrs(2)._2)
        ln((ev.attrs ++ extra).map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
          .mkString("{", ", ", "}"))
        if (i % 40 == 39) ln("")
      }
    }
    if (!json) ln("</Trace>")
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val os = new FileOutputStream(f)
    try os.write(bytes) finally os.close()
    (lines, bytes.length.toLong)
  }

  private def writeManifest(f: File, m: Manifest): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8))
    try {
      w.write(s"""{"events": ${m.events}, "lines": ${m.lines}, "bytes": ${m.bytes}, "files": ${m.files}, "windows": [""")
      w.write(m.windows.map(x =>
        s"""{"name": "${x.name}", "start": ${x.start}, "end": ${x.end}}""")
        .mkString(", "))
      w.write("]}\n")
    } finally w.close()
  }
}
