package graft

import org.apache.spark.sql.functions._

import graft.queries.Registry
import graft.trace._

/** Full-registry scaling evidence: every sfDir-driven registered query
  * runs at sf0.1 AND at 10× that volume (sf1-equivalent, generated by
  * `dev/gen_scale_tables.py` into /tmp/graft_scale/sf1), and the
  * per-family wall-time ratio must stay ≲ linear in the data. The
  * trace family's registered queries are fixture-bound (they parse the
  * reference's own log files, ignoring sfDir), so its scaling runs at
  * the operator level over the synthetic rollover corpus
  * (`dev/gen_scale_logs.py` / `... x10`: 95,700 → 957,000 events).
  *
  * Both tests self-cancel when the generated inputs are absent, so the
  * regular test cycle stays fast; COVERAGE.md records a full run.
  */
class ScaleRegistrySpec extends SparkSpec {

  private val Sf01 = "/root/testdata/sf0.1"
  private val Sf1 = "/tmp/graft_scale/sf1"
  private val Logs = "/tmp/graft_scale/logs"
  private val Logs10 = "/tmp/graft_scale/logs10"

  /** Ratio bound: 10× rows on fixed cores is ~10× ideally; partial
    * aggregation and amortized constants often land BELOW 10, shuffle
    * sort costs a log factor above. 20 = linear with 2× headroom for
    * local-mode noise; anything past it is flagged by name. */
  private val FamilyBound = 20.0

  test("registry at 10x sf0.1: every family scales ≲ linearly") {
    assume(new java.io.File(Sf1).isDirectory, s"run dev/gen_scale_tables.py")
    val qs = Registry.all
      .filterNot(_.name.startsWith("trace_")) // fixture-bound, see below
    def sweep(dir: String): Map[String, Double] = qs.map { q =>
      val t0 = System.nanoTime()
      q.run(spark, dir).queryExecution.toRdd.count()
      spark.catalog.clearCache()
      q.name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    sweep("/root/testdata/sf0.01") // warm-up: JIT + classloading, cheap sf
    val base = sweep(Sf01)
    val scaled = sweep(Sf1)

    def family(n: String): String =
      if (n.startsWith("q")) "relational" else n.takeWhile(_ != '_')
    val fams = qs.map(q => q.name).groupBy(family).toSeq.sortBy(_._1)
    val report = new StringBuilder
    val violations = Seq.newBuilder[String]
    fams.foreach { case (fam, names) =>
      val b = names.map(base).sum
      val s = names.map(scaled).sum
      val r = s / b
      report ++= f"$fam%-12s sf0.1 $b%7.1f s → 10x $s%7.1f s  ratio $r%5.1f\n"
      names.sortBy(n => -scaled(n) / base(n)).take(3).foreach { n =>
        report ++= f"    $n%-34s ${base(n)}%6.2f → ${scaled(n)}%7.2f  (${scaled(n) / base(n)}%5.1f×)\n"
      }
      if (r > FamilyBound)
        violations += s"family $fam scaled super-linearly (${r}× for 10× " +
          "data); slowest: " + names.sortBy(n => -scaled(n) / base(n)).take(3)
            .map(n => s"$n ${(scaled(n) / base(n)).round}×").mkString(", ")
    }
    info("\n" + report.toString)
    val v = violations.result()
    assert(v.isEmpty, v.mkString("\n") + "\n\nfull report:\n" + report)
  }

  test("100x probe: representative operators stay ~linear at sf10-equivalent") {
    val Sf10 = "/tmp/graft_scale/sf10"
    assume(new java.io.File(Sf10).isDirectory,
      "run dev/gen_scale_tables.py 100 /tmp/graft_scale/sf10")
    // One representative per plan family, run at TRUE 100× volume (60M
    // lineitem / 10M events): scan-agg, multi-join, global window,
    // gaps-and-islands, windowed rollup, boundary-carried scan, the
    // custom as-of join, the per-step conditional-min funnel and its
    // streaming-carrier twin over 150k funnel keys, the streaming-carrier
    // sessionization (10M events folded per key), the exact +
    // bounded-state MAD pair, the per-user lag Markov matrix,
    // session-path trajectories, and the exact vs KMV-sketch profile
    // pair (the exact form pays the Expand + per-distinct hash state;
    // the sketch form holds 4 KB/column)
    val probes = Seq("q1_pricing_summary", "q3_revenue_by_nation",
      "q8_running_qty_by_supplier", "ev_sessionize", "ev_rollup_60s",
      "ev_value_drops", "ev_asof_last_signup",
      "ev_funnel_users", "ev_streaming_funnel", "ev_streaming_sessions",
      "ev_mad_anomalies", "ev_mad_anomalies_approx", "ev_markov_transitions",
      "ev_session_paths", "ev_profile", "ev_profile_kmv", "ev_streaming_kmv")
    val qs = Registry.all.filter(q => probes.contains(q.name))
    assert(qs.size == probes.size, "probe names drifted from the registry")
    def sweep(dir: String): Map[String, Double] = qs.map { q =>
      val t0 = System.nanoTime()
      q.run(spark, dir).queryExecution.toRdd.count()
      spark.catalog.clearCache()
      q.name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    sweep(Sf01) // warm-up
    val base = sweep(Sf01)
    val scaled = sweep(Sf10)
    val all = base.keys.map(k => (k, base(k), scaled(k))).toSeq
      .sortBy(-_._3)
    val report = all.map { case (n, b, s) =>
      f"$n%-30s sf0.1 $b%6.2f s → 100x $s%8.2f s  (${s / b}%6.1f×)"
    }.mkString("\n")
    info("\n" + report)
    // 100× data on 32 fixed cores: linear = 100×; 200 = linear with the
    // same 2× local-mode headroom the 10× bound uses
    val violations = all.collect {
      case (n, b, s) if s / b > 200.0 => f"$n ${s / b}%.0f×"
    }
    assert(violations.isEmpty,
      s"super-linear at 100×: ${violations.mkString(", ")}\n$report")
  }

  test("trace operators at TRUE 100x volume: 96k → 9.57M events") {
    val Logs100 = "/tmp/graft_scale/logs100"
    assume(new java.io.File(Logs100).isDirectory, "run dev/gen_scale_logs.py x100")
    assume(new java.io.File(Logs).isDirectory, "run dev/gen_scale_logs.py")
    // the ops whose 10× fix this validates at the next decade: the
    // formerly-BNLJ range joins (W5 episode-severity, W9 cause lookback,
    // W10 related-events) now bucketed equi-joins, plus the parse and the
    // boundary-carried rollback scan that feed them
    def pipeline(dir: String): Map[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def timed(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        out(label) = (System.nanoTime() - t0) / 1e9
        assert(n > 0L, s"$label returned no rows at $dir")
      }
      val events = TraceEvents.load(spark, s"$dir/*.xml").cache()
      timed("parse+load")(events.count())
      timed("episodes_W5")(GlobalScanner.recoveryEpisodes(events).count())
      val recov = RecoveryDetector.recoveries(events).cache()
      recov.count()
      timed("causes_W9")(RecoveryDetector.withCauses(events, recov).count())
      timed("related_W10")(RecoveryDetector.relatedEvents(events, recov).count())
      timed("rollback_W1-4")(GlobalScanner.rollbackStatus(events).count())
      recov.unpersist(); events.unpersist()
      spark.catalog.clearCache()
      out.toMap
    }
    pipeline(Logs) // warm-up
    val base = pipeline(Logs)
    val scaled = pipeline(Logs100)
    val report = base.keys.map { k =>
      f"$k%-16s 96k ${base(k)}%6.1f s → 9.57M ${scaled(k)}%7.1f s  (${scaled(k) / base(k)}%5.1f×)"
    }.mkString("\n")
    info("\n" + report)
    // 100× events on fixed cores: 200 = linear + the same 2× headroom.
    // parse+load is reported but not bounded — its work is linear by
    // construction (one pass over 3.7 GB of XML) and its tiny 96k base
    // (~1.5 s, half fixed overhead) makes the RATIO swing 80-170× with
    // suite-level GC/IO contention; the joins are the thing under test.
    val violations = base.keys.collect {
      case k if k != "parse+load" && scaled(k) / base(k) > 200.0 =>
        f"$k ${scaled(k) / base(k)}%.0f×"
    }
    assert(violations.isEmpty,
      s"super-linear at 100×: ${violations.mkString(", ")}\n$report")
  }

  test("boundary-carried scans at 10M rows: correct and hard-bounded") {
    // The carry machinery itself (range partition → local window →
    // boundary aggregate → broadcast seed join) under a hard CI bound at
    // true 100×-events volume. No generated fixtures: the input is a
    // synthetic 10M-row frame with CLOSED-FORM expected values, so this
    // runs on every `sbt test` — a regression in the carry logic fails
    // as a wrong answer, a regression to a single-partition funnel (or
    // any other plan blow-up) fails the wall bound. numPartitions is
    // pinned to 32 so the adaptive fast path can never bypass the
    // machinery under test.
    import graft.ops.ScanOps
    import org.apache.spark.sql.{Column, DataFrame}
    val N = 10_000_000L
    val df = spark.range(N).select(
      col("id").as("ord"),
      // non-null every 97th row — forces real cross-partition carries
      // (a 32-way range split leaves ~3.2k non-nulls per partition and
      // every partition boundary lands mid-gap with p ≈ 96/97)
      when(col("id") % 97 === 0, col("id")).as("sparse"),
      lit(1L).as("one"))

    // Hard wall bound per op: 60 s holds ~7-14× headroom on this
    // hardware (local[4] suite config, cold JVM 4.2-8.5 s per op), but a
    // wall-clock assertion in a correctness suite is machine-load
    // sensitive — overridable for weaker shared runners without
    // forfeiting the blow-up detection (ADVICE r5).
    val wallBound: Double =
      sys.env.get("GRAFT_SCALE_WALL_SECS").map(_.toDouble).getOrElse(60.0)

    def timedMismatches(label: String, bound: Double)(out: DataFrame,
        expected: Column, actual: Column): Double = {
      val t0 = System.nanoTime()
      val bad = out.filter(actual.isNull =!= expected.isNull ||
        (actual.isNotNull && actual =!= expected)).count()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(bad === 0L, s"$label: $bad/$N rows disagree with closed form")
      assert(secs <= bound,
        f"$label took $secs%.1f s at 10M rows (bound $bound%.0f s) — " +
          "the carry machinery regressed (single-partition funnel?)")
      secs
    }

    // Plan-shape pin: the distributed path MUST range-partition 32 ways.
    // The wall bound alone can't separate "fast carry" from "a global
    // window that happens to finish" at this size; the exchange shape can.
    val prevOut = ScanOps.prevNonNull(df, Seq("ord"),
      Seq("sparse" -> "prev"), numPartitions = 32)
    val ranged = prevOut.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] &&
            e.outputPartitioning.numPartitions == 32 => e
    }
    assert(ranged.nonEmpty,
      "prevNonNull(numPartitions=32) lost its 32-way range exchange — " +
        "the distributed carry path is not being taken")

    val tPrev = timedMismatches("prevNonNull", bound = wallBound)(
      prevOut,
      when(col("ord") === 0, lit(null).cast("long"))
        .otherwise(floor((col("ord") - 1) / 97) * 97),
      col("prev"))
    val tSum = timedMismatches("runningSum", bound = wallBound)(
      ScanOps.runningSum(df, Seq("ord"), col("one"), "rsum",
        numPartitions = 32),
      col("ord"), col("rsum"))
    val tRn = timedMismatches("rowNumber", bound = wallBound)(
      ScanOps.rowNumber(df, Seq("ord"), "rn", numPartitions = 32),
      col("ord") + 1, col("rn"))
    val tLag = timedMismatches("lagK(3)", bound = wallBound)(
      ScanOps.lagK(df, Seq("ord"), "ord", "l3", k = 3, numPartitions = 32),
      when(col("ord") < 3, lit(null).cast("long")).otherwise(col("ord") - 3),
      col("l3"))
    info(f"10M-row carries: prevNonNull $tPrev%.1f s, runningSum $tSum%.1f s, " +
      f"rowNumber $tRn%.1f s, lagK $tLag%.1f s (bound $wallBound s each)")
  }

  test("funnel + retention under a 1M-event bot key: closed form, no " +
      "per-key materialization") {
    // One user holds 1M events (250k per funnel step) next to 100k
    // normal 4-event users — the product-analytics bot signature. The
    // plans must stay CONDITIONAL-MIN shaped: each step is an equi-join
    // plus a map-side-combinable min, so the bot's events reduce inside
    // each scan partition and per-key state is one row per (key, prior
    // times) group — never a collected event list or a whole-history
    // window sort. What this probe does NOT claim: the bot's rows still
    // CO-LOCATE in one join task per step (hash partitioning sends a
    // key's rows to one reducer); at 10⁸-events-per-bot scale the
    // wall-clock fix is AQE's skew-split (ShuffledJoin partitions past
    // spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes are
    // split; the downstream partial agg re-merges) — at this probe's
    // size the single task IS the linear scan and completes well inside
    // the bound. Closed-form inputs make any semantic drift a wrong
    // answer, not just a slow one.
    import graft.ops.Funnel
    val stepTypes = Seq("signup", "view", "click", "purchase")
    val stepExpr = element_at(
      array(stepTypes.map(lit): _*), (col("id") % 4 + 1).cast("int"))
    // normal users: u = id/4, step id%4, us = u·1000 + step·10
    val normal = spark.range(400000L).select(
      (col("id") / 4).cast("long").as("user_id"),
      stepExpr.as("event_type"),
      timestamp_micros((col("id") / 4).cast("long") * 1000L +
        (col("id") % 4) * 10L).as("ts"))
    // the bot: 1M events, step id%4, us = id · 2.4e6 (weeks 0..3:
    // t1..t4 are ids 0..3 — each the min step-i time after t(i-1))
    val bot = spark.range(1000000L).select(
      lit(500000L).as("user_id"),
      stepExpr.as("event_type"),
      timestamp_micros(col("id") * 2400000L).as("ts"))
    val events = normal.unionAll(bot)

    val wallBound: Double =
      sys.env.get("GRAFT_SCALE_WALL_SECS").map(_.toDouble).getOrElse(60.0)
    val steps = Funnel.steps(events, stepTypes)
    // plan shape: every aggregate is partial (map-side combine) — the
    // bot's 250k step-i rows reach each shuffle pre-reduced per map task
    val plan = steps.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("Partial"),
      s"funnel steps lost map-side partial aggregation:\n$plan")
    assert(!plan.contains("WindowExec"),
      s"funnel steps must not window over a user's whole history:\n$plan")
    val t0 = System.nanoTime()
    val rows = steps.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs <= wallBound,
      f"funnel over the bot key took $secs%.1f s (bound $wallBound%.0f s)")
    assert(rows.length === 100001, "100k users + the bot")
    assert(rows.forall(_.getInt(5) == 4), "every funnel completes")
    val botRow = rows.find(_.getLong(0) == 500000L).get
    assert((1 to 4).map(botRow.getLong) ===
      Seq(0L, 2400000L, 4800000L, 7200000L),
      "bot funnel times must be the conditional mins, not arrival artifacts")
    val u7 = rows.find(_.getLong(0) == 7L).get
    assert((1 to 4).map(u7.getLong) === Seq(7000L, 7010L, 7020L, 7030L))

    // retention over the same stream: the bot's 1M rows collapse to 4
    // (user, week) pairs in the map-side distinct; matrix is |weeks|²
    val t1 = System.nanoTime()
    val ret = Funnel.retention(events, "signup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(x => (x._1, x._2))
    val rSecs = (System.nanoTime() - t1) / 1e9
    assert(rSecs <= wallBound,
      f"retention over the bot key took $rSecs%.1f s (bound $wallBound%.0f s)")
    val rate = BigDecimal(1.0 / 100001.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ret.toSeq === Seq(
      (0L, 0L, 100001L, 100001L, 1.0),
      (0L, 1L, 1L, 100001L, rate),
      (0L, 2L, 1L, 100001L, rate),
      (0L, 3L, 1L, 100001L, rate)),
      s"retention matrix drifted from the closed form: ${ret.toSeq}")
    info(f"bot-key probe: funnel $secs%.1f s, retention $rSecs%.1f s " +
      "at 1.4M events / 1M-event hot key")
  }

  test("trace operators at 10x volume: 96k → 957k events ≲ linear") {
    assume(new java.io.File(Logs10).isDirectory, "run dev/gen_scale_logs.py x10")
    assume(new java.io.File(Logs).isDirectory, "run dev/gen_scale_logs.py")

    // the operator set the round-3 verdict called out: the range-join
    // shaped W5/W9/W10, the ScanOps boundary-carried scans (W1-W4), the
    // derive pipeline and marker chunking
    def pipeline(dir: String): Map[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def timed(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        out(label) = (System.nanoTime() - t0) / 1e9
        assert(n > 0L, s"$label returned no rows at $dir")
      }
      val events = TraceEvents.load(spark, s"$dir/*.xml").cache()
      timed("parse+load")(events.count())
      val metrics = DerivedTables.eventMetrics(events).cache()
      timed("eventMetrics")(metrics.count())
      timed("metricBaselines")(
        DerivedTables.metricBaselines(metrics, minCount = 20).count())
      timed("rollups60")(DerivedTables.rollups(metrics, 60).count())
      timed("episodes_W5")(GlobalScanner.recoveryEpisodes(events).count())
      timed("causes_W9")(RecoveryDetector.withCauses(
        events, RecoveryDetector.recoveries(events)).count())
      timed("related_W10")(RecoveryDetector.relatedEvents(
        events, RecoveryDetector.recoveries(events)).count())
      timed("rollback_W1-4")(GlobalScanner.rollbackStatus(events).count())
      timed("chunks_W7")(Chunker.chunkByMarker(events).count())
      metrics.unpersist(); events.unpersist()
      spark.catalog.clearCache()
      out.toMap
    }
    pipeline(Logs) // warm-up
    val base = pipeline(Logs)
    val scaled = pipeline(Logs10)
    val report = base.keys.map { k =>
      f"$k%-16s 96k ${base(k)}%6.1f s → 957k ${scaled(k)}%7.1f s  (${scaled(k) / base(k)}%5.1f×)"
    }.mkString("\n")
    info("\n" + report)
    val ratio = scaled.values.sum / base.values.sum
    assert(ratio <= FamilyBound,
      f"trace pipeline scaled super-linearly ($ratio%.1f× for 10× events):\n$report")
  }
}
