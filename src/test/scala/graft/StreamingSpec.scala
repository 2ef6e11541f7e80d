package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.MetricPoint

/** Streaming twins produce the same results as their batch forms when fed
  * the same data through a MemoryStream. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming rollups match the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String, Double)]
    val metrics = input.toDF()
      .toDF("ts", "role", "metric_name", "metric_value")
    val q = StreamingOps.rollupStream(metrics, 60)
      .writeStream.format("memory").queryName("rollup_out")
      .outputMode(OutputMode.Complete).start()
    val rows = Seq(
      (ts("2025-01-01 00:00:10"), "SS", "VersionLag", 100.0),
      (ts("2025-01-01 00:00:50"), "SS", "VersionLag", 300.0),
      (ts("2025-01-01 00:01:10"), "SS", "VersionLag", 500.0),
      (ts("2025-01-01 00:00:20"), "TL", "QueueSize", 7.0))
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("rollup_out")
      .select("window_start", "role", "metric_name", "n", "avg", "max")
      .collect().map(_.toSeq).toSet
    q.stop()

    val batch = rows.toDF("ts", "role", "metric_name", "metric_value")
      .groupBy(window(col("ts"), "60 seconds").getField("start")
        .as("window_start"), col("role"), col("metric_name"))
      .agg(count(lit(1)).as("n"), avg(col("metric_value")).as("avg"),
        max(col("metric_value")).as("max"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.size === 3)
  }

  test("rollup stream finalizes windows in append mode via watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String, Double)]
    val metrics = input.toDF().toDF("ts", "role", "metric_name", "metric_value")
    val q = StreamingOps.rollupStream(metrics, 60, watermark = "2 minutes")
      .writeStream.format("memory").queryName("rollup_append")
      .outputMode(OutputMode.Append).start()
    input.addData((ts("2025-01-01 00:00:10"), "SS", "Lag", 100.0))
    q.processAllAvailable()
    // window not finalized yet — watermark hasn't passed its end
    assert(spark.table("rollup_append").count() === 0)
    // an event 10 minutes later advances the watermark past the window
    input.addData((ts("2025-01-01 00:10:00"), "SS", "Lag", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("rollup_append").collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("n") === 1L)
    assert(out(0).getAs[Timestamp]("window_start").toString
      .startsWith("2025-01-01 00:00:00"))
  }

  test("session windows cluster by gap like the batch sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Int)]
    val events = input.toDF().toDF("ts", "proc", "severity")
    val q = StreamingOps.sessionStream(events, "proc", gapSeconds = 60)
      .writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(
      (ts("2025-01-01 00:00:00"), "p1", 10),
      (ts("2025-01-01 00:00:30"), "p1", 40),  // same session (gap 30 < 60)
      (ts("2025-01-01 00:10:00"), "p1", 20),  // new session
      (ts("2025-01-01 00:00:10"), "p2", 10))
    q.processAllAvailable()
    val out = spark.table("session_out").collect()
    q.stop()
    assert(out.length === 3)
    val p1 = out.filter(_.getAs[String]("proc") == "p1")
      .sortBy(_.getAs[Timestamp]("start").getTime)
    assert(p1(0).getAs[Long]("n_events") === 2L)
    assert(p1(0).getAs[Int]("max_severity") === 40)
    assert(p1(1).getAs[Long]("n_events") === 1L)
  }

  test("running anomaly gate flags spikes against prior state only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MetricPoint]
    val q = StreamingOps.runningAnomalyGate(input.toDS(), zThreshold = 3.0)
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append).start()
    // batch 1: establish a stable baseline
    input.addData((1 to 20).map(i =>
      MetricPoint("lag", ts(f"2025-01-01 00:00:${i}%02d"), 100.0 + (i % 3))))
    q.processAllAvailable()
    assert(spark.table("gate_out").count() === 0)
    // batch 2: a spike arrives — state from batch 1 flags it
    input.addData(MetricPoint("lag", ts("2025-01-01 00:01:00"), 10000.0))
    q.processAllAvailable()
    val flagged = spark.table("gate_out").as[StreamingOps.Flagged].collect()
    q.stop()
    assert(flagged.length === 1)
    assert(flagged(0).value === 10000.0)
    assert(flagged(0).zscore > 3.0)
  }

  test("running distinct: multi-trigger registers equal the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    // 2 keys, heavy duplication (value space 0..99 per key over 600 rows)
    val all = (1 to 600).map(i =>
      StreamingOps.DistinctPoint(s"k${i % 2}", s"user-${i % 100}"))
    val input = MemoryStream[StreamingOps.DistinctPoint]
    val q = StreamingOps.runningDistinct(input.toDS())
      .writeStream.format("memory").queryName("dist_out")
      .outputMode(OutputMode.Append).start()
    input.addData(all.slice(0, 200)); q.processAllAvailable()
    input.addData(all.slice(200, 400)); q.processAllAvailable()
    input.addData(all.slice(400, 600)); q.processAllAvailable()
    val rows = spark.table("dist_out")
      .as[StreamingOps.RunningDistinct].collect()
    q.stop()
    assert(rows.count(_.key == "k0") === 3, "one emission per key per trigger")
    val lastByKey = rows.groupBy(_.key).view
      .mapValues(_.maxBy(_.n_seen)).toMap
    // n_seen bills ROWS; the sketch sees values — duplication-free
    assert(lastByKey("k0").n_seen === 300L)
    // == the batch operator AND the batch aggregate, bit-for-bit
    val batch = StreamingOps.runningDistinct(all.toDS())
      .collect().map(r => r.key -> r).toMap
    graft.functions.HllAgg.register(spark)
    val agg = all.toDF("key", "value", "ts").groupBy("key")
      .agg(graft.functions.HllAgg.hll(col("value")).as("h"))
      .select(col("key"), col("h.zeros"), col("h.est"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    lastByKey.foreach { case (key, got) =>
      assert((got.zeros, got.est) === ((batch(key).zeros, batch(key).est)),
        s"$key: multi-trigger must equal single-batch")
      assert((got.zeros, got.est) === agg(key),
        s"$key: streaming state must equal the batch aggregate")
      // 50 distinct users per key (i%2 and i%100 interlock): linear
      // counting regime, estimate within the envelope
      assert(math.abs(got.est - 50.0) / 50.0 < 0.25, s"$key est ${got.est}")
    }
  }

  test("running sampled quantiles: multi-trigger state equals the batch sample") {
    implicit val sqlCtx = spark.sqlContext
    val k = 32
    val pcts = Seq(0.5, 0.95)
    val all = (1 to 300).map(i =>
      StreamingOps.QuantilePoint(s"m${i % 2}", s"row-$i", (i * 37 % 101).toDouble))
    val input = MemoryStream[StreamingOps.QuantilePoint]
    val q = StreamingOps.runningQuantiles(input.toDS(), pcts, k)
      .writeStream.format("memory").queryName("quant_out")
      .outputMode(OutputMode.Append).start()
    // three micro-batches: the sample must accumulate across triggers
    input.addData(all.slice(0, 100)); q.processAllAvailable()
    input.addData(all.slice(100, 200)); q.processAllAvailable()
    input.addData(all.slice(200, 300)); q.processAllAvailable()
    val rows = spark.table("quant_out")
      .as[StreamingOps.RunningQuantiles].collect()
    q.stop()
    // one emission per key per trigger, n_seen strictly growing
    assert(rows.count(_.key == "m0") === 3)
    // the LAST emission per key == the batch operator over all data
    val lastByKey = rows.groupBy(_.key).view
      .mapValues(_.maxBy(_.n_seen)).toMap
    val batch = StreamingOps.runningQuantiles(all.toDS(), pcts, k)
      .collect().map(r => r.key -> r).toMap
    assert(lastByKey.keySet === batch.keySet)
    lastByKey.foreach { case (key, got) =>
      assert(got.n_seen === batch(key).n_seen)
      assert(got.quantiles === batch(key).quantiles,
        s"$key: multi-trigger sample must equal the single-trigger batch")
    }
    // and equals the batch AGGREGATE (graft_pct_sample) bit-for-bit
    val agg = all.toDF("key", "row_key", "value", "ts")
      .groupBy("key")
      .agg(graft.functions.PctSampleAgg.pctSample(
        col("row_key"), col("value"), pcts, k).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    lastByKey.foreach { case (key, got) =>
      assert(got.quantiles === agg(key),
        s"$key: streaming state must equal the batch aggregate")
    }
  }

  test("running distinct: state TTL evicts idle keys; re-arrival starts fresh") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.DistinctPoint]
    val q = StreamingOps.runningDistinct(input.toDS(),
        stateTtlMs = 1000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("dist_ttl_out")
      .outputMode(OutputMode.Append).start()
    // b1: key "a" sees u1,u2 — timeout armed at wm(0) + 1s
    input.addData(
      StreamingOps.DistinctPoint("a", "u1", ts("2025-01-01 00:00:00")),
      StreamingOps.DistinctPoint("a", "u2", ts("2025-01-01 00:00:00")))
    q.processAllAvailable()
    // b2+b3: only key "b", an hour later — the watermark sails past
    // "a"'s horizon and its state is evicted (silently: eviction emits
    // nothing, the last pre-eviction emission was the final state)
    input.addData(StreamingOps.DistinctPoint("b", "x", ts("2025-01-01 01:00:00")))
    q.processAllAvailable()
    input.addData(StreamingOps.DistinctPoint("b", "y", ts("2025-01-01 01:00:01")))
    q.processAllAvailable()
    // b4: key "a" RE-ARRIVES with u2,u3 — a fresh sketch, not a resume
    input.addData(
      StreamingOps.DistinctPoint("a", "u2", ts("2025-01-01 01:00:02")),
      StreamingOps.DistinctPoint("a", "u3", ts("2025-01-01 01:00:02")))
    q.processAllAvailable()
    val rows = spark.table("dist_ttl_out")
      .as[StreamingOps.RunningDistinct].collect()
    q.stop()
    val aEmissions = rows.filter(_.key == "a")
    // a RESUMED state would emit n_seen (2, 4); eviction restarts at 0
    assert(aEmissions.map(_.n_seen).sorted.toSeq === Seq(2L, 2L),
      s"evicted key must restart n_seen at 0, got ${aEmissions.toSeq}")
    // and the two emissions are exactly the two independent batch
    // sketches — {u1,u2} and a FRESH {u2,u3} (order-insensitive: both
    // emissions carry n_seen 2)
    def sketch(vals: String*): (Int, Double) = {
      val r = StreamingOps.runningDistinct(
        vals.map(v => StreamingOps.DistinctPoint("a", v, null)).toDS())
        .collect().head
      (r.zeros, r.est)
    }
    assert(aEmissions.map(e => (e.zeros, e.est)).sortBy(_._2).toSeq ===
      Seq(sketch("u1", "u2"), sketch("u2", "u3")).sortBy(_._2),
      "re-arrival must seed a fresh, correct sketch")
  }

  test("running quantiles: state TTL evicts idle keys; re-arrival starts fresh") {
    implicit val sqlCtx = spark.sqlContext
    val pcts = Seq(0.5)
    val input = MemoryStream[StreamingOps.QuantilePoint]
    val q = StreamingOps.runningQuantiles(input.toDS(), pcts, k = 8,
        stateTtlMs = 1000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("quant_ttl_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamingOps.QuantilePoint("m", "r1", 10.0, ts("2025-01-01 00:00:00")),
      StreamingOps.QuantilePoint("m", "r2", 20.0, ts("2025-01-01 00:00:00")))
    q.processAllAvailable()
    input.addData(StreamingOps.QuantilePoint("o", "r3", 1.0, ts("2025-01-01 01:00:00")))
    q.processAllAvailable()
    input.addData(StreamingOps.QuantilePoint("o", "r4", 2.0, ts("2025-01-01 01:00:01")))
    q.processAllAvailable()
    // re-arrival after eviction: the sample holds ONLY the new rows —
    // p50 of {100, 200} is 150, unreachable if {10, 20} had survived
    input.addData(
      StreamingOps.QuantilePoint("m", "r5", 100.0, ts("2025-01-01 01:00:02")),
      StreamingOps.QuantilePoint("m", "r6", 200.0, ts("2025-01-01 01:00:02")))
    q.processAllAvailable()
    val rows = spark.table("quant_ttl_out")
      .as[StreamingOps.RunningQuantiles].collect()
    q.stop()
    val m = rows.filter(_.key == "m").sortBy(_.quantiles.head)
    assert(m.map(_.n_seen).toSeq === Seq(2L, 2L),
      s"evicted key must restart its sample, got ${m.toSeq}")
    assert(m.last.quantiles === Seq(150.0),
      s"fresh sample must hold only post-eviction rows: ${m.toSeq}")
  }

  private def fp(key: Long, step: Int, at: String): StreamingOps.FunnelPoint = {
    val t = ts(at)
    StreamingOps.FunnelPoint(key, step, t.getTime * 1000L, t)
  }

  test("running funnel: multi-trigger state equals batch Funnel.steps") {
    implicit val sqlCtx = spark.sqlContext
    val stepTypes = Seq("signup", "view", "click", "purchase")
    // per-key shapes: full funnel with repeats and a tie (key 1's view at
    // the SAME micro as its signup must not count — strictly after), a
    // step-1-only key (2), a skipped step (3: purchase without click must
    // leave t3/t4 null), no-signup noise (4: absent from both engines),
    // and a funnel whose steps straddle the trigger boundaries (5)
    val all = Seq(
      fp(1L, 1, "2025-01-01 00:00:02"), fp(1L, 2, "2025-01-01 00:00:02"),
      fp(1L, 1, "2025-01-01 00:00:05"), fp(1L, 2, "2025-01-01 00:00:07"),
      fp(2L, 1, "2025-01-01 00:00:03"), fp(4L, 2, "2025-01-01 00:00:04"),
      fp(3L, 1, "2025-01-01 00:00:06"), fp(5L, 1, "2025-01-01 00:00:08"),
      // trigger 2 (event times strictly after trigger 1's)
      fp(1L, 3, "2025-01-01 00:01:00"), fp(1L, 2, "2025-01-01 00:01:01"),
      fp(3L, 2, "2025-01-01 00:01:02"), fp(3L, 4, "2025-01-01 00:01:03"),
      fp(4L, 3, "2025-01-01 00:01:04"), fp(5L, 2, "2025-01-01 00:01:05"),
      // trigger 3
      fp(1L, 4, "2025-01-01 00:02:00"), fp(5L, 3, "2025-01-01 00:02:01"),
      fp(1L, 4, "2025-01-01 00:02:02"), fp(2L, 1, "2025-01-01 00:02:03"))
    val input = MemoryStream[StreamingOps.FunnelPoint]
    val q = StreamingOps.runningFunnel(input.toDS(), nSteps = 4)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    // intra-trigger order is arbitrary (the operator sorts); the reverse
    // slices prove it
    input.addData(all.slice(0, 8).reverse); q.processAllAvailable()
    input.addData(all.slice(8, 14).reverse); q.processAllAvailable()
    input.addData(all.slice(14, 18).reverse); q.processAllAvailable()
    val rows = spark.table("funnel_out")
      .as[StreamingOps.RunningFunnel].collect()
    q.stop()
    // one emission per key per trigger it appears in (key 4 never: no
    // step-1 evidence ever arrives)
    assert(!rows.exists(_.key == 4L), "no-signup key must never emit")
    val last = rows.groupBy(_.key).view
      .mapValues(_.maxBy(_.steps_completed)).toMap
    // == batch Funnel.steps over the same events, bit-for-bit
    val evDf = all.map(p => (p.key, stepTypes(p.step - 1), p.ts))
      .toDF("user_id", "event_type", "ts")
    val batch = graft.ops.Funnel.steps(evDf, stepTypes)
      .collect().map { r =>
        val t = (1 to 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))
        r.getLong(0) -> ((t, r.getInt(5)))
      }.toMap
    assert(last.keySet === batch.keySet)
    last.foreach { case (key, got) =>
      val (bt, bSteps) = batch(key)
      assert(got.steps_completed === bSteps, s"key $key steps_completed")
      val gotT = (0 until 4).map(i =>
        if (i < got.t_us.length) Some(got.t_us(i)) else None)
      assert(gotT === bt, s"key $key step times: $gotT vs $bt")
    }
    // spot-pin the tricky shapes: the tie was excluded (key 1's t2 is the
    // 00:00:07 view, not the 00:00:02 one), the skipped step blocked key 3
    assert(last(1L).t_us(1) === ts("2025-01-01 00:00:07").getTime * 1000L)
    assert(last(3L).steps_completed === 2,
      "purchase without click must not complete the funnel")
    assert(last(2L).steps_completed === 1)
  }

  test("running funnel: state TTL evicts idle keys; re-arrival starts fresh") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.FunnelPoint]
    val q = StreamingOps.runningFunnel(input.toDS(), nSteps = 4,
        stateTtlMs = 1000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("funnel_ttl_out")
      .outputMode(OutputMode.Append).start()
    // b1: key 1 completes steps 1-2 — timeout armed at wm + 1s
    input.addData(fp(1L, 1, "2025-01-01 00:00:00"),
      fp(1L, 2, "2025-01-01 00:00:01"))
    q.processAllAvailable()
    // b2+b3: only key 2, an hour later — key 1's state evicts silently
    input.addData(fp(2L, 1, "2025-01-01 01:00:00")); q.processAllAvailable()
    input.addData(fp(2L, 1, "2025-01-01 01:00:01")); q.processAllAvailable()
    // b4: key 1 re-arrives with a VIEW — without its evicted t1 this is
    // pre-step-1 evidence and must emit (and store) nothing
    input.addData(fp(1L, 2, "2025-01-01 01:00:02")); q.processAllAvailable()
    // b5: key 1 re-signs-up — a fresh funnel starting at step 1 (the b4
    // view is gone: strictly-ordered delivery means it could never have
    // counted against a later signup anyway)
    input.addData(fp(1L, 1, "2025-01-01 01:00:03")); q.processAllAvailable()
    val rows = spark.table("funnel_ttl_out")
      .as[StreamingOps.RunningFunnel].collect()
    q.stop()
    val k1 = rows.filter(_.key == 1L).sortBy(_.t_us.head)
    assert(k1.map(_.steps_completed).toSeq === Seq(2, 1),
      s"evicted key must restart at step 1, got ${k1.toSeq}")
    assert(k1.last.t_us === Seq(ts("2025-01-01 01:00:03").getTime * 1000L),
      "fresh funnel must hold only the post-eviction signup")
  }

  private def sp(key: Long, eid: Long, at: String): StreamingOps.SessionPoint = {
    val t = ts(at)
    StreamingOps.SessionPoint(key, eid, t.getTime / 1000L, t)
  }

  test("running sessions: multi-trigger closed+open equals hand-derived sessionize") {
    implicit val sqlCtx = spark.sqlContext
    // key 1: session 0 (2 events), >30min gap STRADDLING a trigger
    // boundary, session 1 (2 events); key 2: one event ever; key 3: eid
    // order ≠ time order — the gap test must use the PREVIOUS event's
    // sec (eid order), and min/max must cover the whole session
    val t1 = Seq(
      sp(1L, 10L, "2025-01-01 00:00:00"), sp(1L, 11L, "2025-01-01 00:10:00"),
      sp(2L, 20L, "2025-01-01 00:00:05"),
      sp(3L, 30L, "2025-01-01 00:16:40"), sp(3L, 31L, "2025-01-01 01:23:20"))
    val t2 = Seq(
      sp(1L, 12L, "2025-01-01 01:00:00"), sp(1L, 13L, "2025-01-01 01:05:00"),
      // eid 32 steps BACK in time vs eid 31 by 30 min (not a new session:
      // |gap| is negative) — session must span [00:53:20 .. 01:23:20]
      sp(3L, 32L, "2025-01-01 00:53:20"))
    val input = MemoryStream[StreamingOps.SessionPoint]
    val q = StreamingOps.runningSessions(input.toDS(), gapSec = 1800L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    input.addData(t1.reverse); q.processAllAvailable() // operator sorts by eid
    input.addData(t2.reverse); q.processAllAvailable()
    val rows = spark.table("sessions_out")
      .as[StreamingOps.RunningSession].collect()
    q.stop()
    // settled value per (key, session_id): the closed emission if any,
    // else the open emission with the largest n_events
    val settled = rows.groupBy(r => (r.key, r.session_id)).view.mapValues {
      es => es.find(_.closed).getOrElse(es.maxBy(_.n_events))
    }.toMap
    def secOf(at: String) = ts(at).getTime / 1000L
    assert(settled((1L, 0L)).closed &&
      settled((1L, 0L)).n_events == 2L &&
      settled((1L, 0L)).start_sec == secOf("2025-01-01 00:00:00") &&
      settled((1L, 0L)).end_sec == secOf("2025-01-01 00:10:00"))
    assert(!settled((1L, 1L)).closed &&
      settled((1L, 1L)).n_events == 2L &&
      settled((1L, 1L)).start_sec == secOf("2025-01-01 01:00:00") &&
      settled((1L, 1L)).end_sec == secOf("2025-01-01 01:05:00"))
    assert(!settled((2L, 0L)).closed && settled((2L, 0L)).n_events == 1L)
    // key 3: eid 30→31 is a real 4000 s gap (two sessions); eid 32 steps
    // BACK 30 min vs eid 31 — a negative gap is NOT a session break, and
    // the open session's min comes from the LATER-eid event
    assert(settled.keySet.filter(_._1 == 3L) === Set((3L, 0L), (3L, 1L)))
    assert(settled((3L, 0L)).closed && settled((3L, 0L)).n_events == 1L &&
      settled((3L, 0L)).start_sec == secOf("2025-01-01 00:16:40") &&
      settled((3L, 0L)).end_sec == secOf("2025-01-01 00:16:40"))
    assert(!settled((3L, 1L)).closed && settled((3L, 1L)).n_events == 2L &&
      settled((3L, 1L)).start_sec == secOf("2025-01-01 00:53:20") &&
      settled((3L, 1L)).end_sec == secOf("2025-01-01 01:23:20"))
    // the session that closed mid-stream (1,0) must never re-emit after
    // closing: exactly one closed emission
    assert(rows.count(r => r.key == 1L && r.session_id == 0L && r.closed) == 1)
  }

  test("running sessions: state TTL evicts idle keys; re-arrival starts fresh") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.SessionPoint]
    val q = StreamingOps.runningSessions(input.toDS(), gapSec = 1800L,
        stateTtlMs = 1000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sessions_ttl_out")
      .outputMode(OutputMode.Append).start()
    input.addData(sp(1L, 1L, "2025-01-01 00:00:00"),
      sp(1L, 2L, "2025-01-01 00:00:10")); q.processAllAvailable()
    // an hour later, a different key advances the watermark → key 1 evicts
    input.addData(sp(2L, 3L, "2025-01-01 01:00:00")); q.processAllAvailable()
    input.addData(sp(2L, 4L, "2025-01-01 01:00:01")); q.processAllAvailable()
    // key 1 re-arrives (ahead of the watermark — late rows are a separate
    // contract): with surviving state this would be session_id 1 (the gap
    // exceeds 1800 s); after eviction it must restart at session_id 0
    // with a fresh 1-event summary (the documented TTL trade)
    input.addData(sp(1L, 5L, "2025-01-01 01:30:00")); q.processAllAvailable()
    val rows = spark.table("sessions_ttl_out")
      .as[StreamingOps.RunningSession].collect()
    q.stop()
    val k1 = rows.filter(_.key == 1L)
    assert(k1.map(r => (r.session_id, r.n_events)).toSeq.sorted ===
      Seq((0L, 1L), (0L, 2L)).sorted,
      s"evicted key must restart at session 0 with 1 event, got ${k1.toSeq}")
    assert(k1.filter(_.n_events == 1L).forall(r =>
      r.start_sec == ts("2025-01-01 01:30:00").getTime / 1000L),
      "fresh session must hold only the post-eviction event")
  }

  // ---- out-of-order / late-data semantics ---------------------------------
  // The ordered-input tests above prove streaming == batch; these prove the
  // watermark CONTRACT — out-of-order rows inside the lateness bound still
  // count, rows beyond it are dropped, and finalized windows never reopen —
  // which is what bounds state (and makes continuous ingest feasible) at
  // 100 TB. Watermark advancement is per-batch: wm = max(event time seen in
  // prior batches) − delay.

  test("rollup stream: out-of-order within watermark counts, late beyond is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String, Double)]
    val metrics = input.toDF().toDF("ts", "role", "metric_name", "metric_value")
    val q = StreamingOps.rollupStream(metrics, 60, watermark = "2 minutes")
      .writeStream.format("memory").queryName("rollup_late")
      .outputMode(OutputMode.Append).start()
    // batch 1: window w0=[00:00,00:01) plus a row that pushes wm to 00:03
    input.addData(
      (ts("2025-01-01 00:00:10"), "SS", "Lag", 100.0),
      (ts("2025-01-01 00:05:00"), "SS", "Lag", 1.0))
    q.processAllAvailable()
    // w0 finalized with n=1 (its end 00:01 is behind wm 00:03)
    val afterB1 = spark.table("rollup_late").collect()
    assert(afterB1.length === 1 && afterB1(0).getAs[Long]("n") === 1L)
    // batch 2: one LATE row for the finalized w0 (00:00:30 < wm — must be
    // dropped, the window must NOT reopen or re-emit), one OUT-OF-ORDER
    // row at 00:04:10 (behind the max event time seen, but ahead of the
    // watermark — must be aggregated), one row advancing wm past both
    input.addData(
      (ts("2025-01-01 00:00:30"), "SS", "Lag", 999.0), // late: dropped
      (ts("2025-01-01 00:04:10"), "SS", "Lag", 50.0),  // out-of-order: kept
      (ts("2025-01-01 00:09:00"), "SS", "Lag", 2.0))   // wm → 00:07
    q.processAllAvailable()
    q.stop()
    val out = spark.table("rollup_late").collect()
      .map(r => r.getAs[Timestamp]("window_start").toString.take(19) ->
        (r.getAs[Long]("n"), r.getAs[Double]("max"))).toMap
    // w0 appears exactly once, still n=1 — the late 999.0 left no trace
    assert(out("2025-01-01 00:00:00") === (1L, 100.0))
    // the out-of-order (but in-watermark) row finalized into w4
    assert(out("2025-01-01 00:04:00") === (1L, 50.0))
    assert(out("2025-01-01 00:05:00") === (1L, 1.0))
  }

  test("session stream: out-of-order rows merge sessions; late rows can't reopen") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Int)]
    val events = input.toDF().toDF("ts", "proc", "severity")
    val q = StreamingOps.sessionStream(events, "proc", gapSeconds = 60,
      watermark = "2 minutes")
      .writeStream.format("memory").queryName("session_late")
      .outputMode(OutputMode.Append).start()
    // batch 1: two p1 islands 120s apart — separate sessions if nothing
    // bridges them; wm stays at 00:00:00 (max 00:02:00 − 2min)
    input.addData(
      (ts("2025-01-01 00:00:00"), "p1", 10),
      (ts("2025-01-01 00:02:00"), "p1", 20))
    q.processAllAvailable()
    // batch 2: OUT-OF-ORDER bridge rows (≥ wm) — the two islands must
    // merge into one session spanning 00:00:00 → 00:03:00
    input.addData(
      (ts("2025-01-01 00:00:40"), "p1", 30),
      (ts("2025-01-01 00:01:20"), "p1", 40))
    q.processAllAvailable()
    // batch 3: advance the watermark far past the session to finalize it
    input.addData((ts("2025-01-01 00:10:00"), "p2", 5))
    q.processAllAvailable()
    val p1 = spark.table("session_late")
      .filter(col("proc") === "p1").collect()
    assert(p1.length === 1, s"bridged islands must finalize as ONE session")
    assert(p1(0).getAs[Long]("n_events") === 4L)
    assert(p1(0).getAs[Int]("max_severity") === 40)
    assert(p1(0).getAs[Timestamp]("start").toString.startsWith("2025-01-01 00:00:00"))
    // batch 4: a late row inside the finalized session's span (far below
    // wm = 00:08) — dropped, the emitted session must not duplicate/grow
    input.addData((ts("2025-01-01 00:01:00"), "p1", 50))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("session_late").filter(col("proc") === "p1").collect()
    assert(after.length === 1 && after(0).getAs[Long]("n_events") === 4L,
      "late row reopened or re-emitted a finalized session")
  }

  test("streaming ingest writes the exact batch Store layout") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Store
    val base = java.nio.file.Files.createTempDirectory("graft_stream_store")
    base.toFile.deleteOnExit()
    val (batchDir, streamDir, ckpt) =
      (s"$base/batch", s"$base/stream", s"$base/ckpt")

    // three micro-batches spanning three event dates, out of order within
    // a date — the partitioned writer must bucket by day either way
    val batches: Seq[Seq[(Timestamp, Long, String, Int)]] = Seq(
      Seq((ts("2025-01-01 09:00:01"), 1L, "A", 10),
        (ts("2025-01-02 00:00:02"), 2L, "B", 20)),
      Seq((ts("2025-01-01 03:00:03"), 3L, "A", 30),
        (ts("2025-01-03 12:00:04"), 4L, "C", 40)),
      Seq((ts("2025-01-02 23:59:59"), 5L, "B", 50)))

    val input = MemoryStream[(Timestamp, Long, String, Int)]
    val events = input.toDF().toDF("ts", "event_id", "event", "severity")
    val q = StreamingOps.ingestToStore(events, streamDir, ckpt)
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()

    Store.writeEvents(
      batches.flatten.toDF("ts", "event_id", "event", "severity"), batchDir)

    // identical partition directory sets (the layout IS the contract)
    def partDirs(dir: String): Set[String] =
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("event_date=")).toSet
    assert(partDirs(streamDir) === partDirs(batchDir))
    assert(partDirs(streamDir) ===
      Set("event_date=2025-01-01", "event_date=2025-01-02",
        "event_date=2025-01-03"))

    // identical content through the Store reader
    def canon(dir: String): Seq[Seq[Any]] =
      Store.readEvents(spark, dir)
        .select("event_id", "ts", "event", "severity", "event_date")
        .collect().map(_.toSeq.toList).toSeq.sortBy(_.toString)
    assert(canon(streamDir) === canon(batchDir))

    // the streamed layout serves the pruned read path unchanged
    val pruned = Store.readEvents(spark, streamDir)
      .filter(col("event_date") === "2025-01-02")
    assert(pruned.count() === 2)
    assert(Store.prunes(pruned),
      "date filter must reach PartitionFilters on the streamed store")
  }

  test("running KMV: multi-trigger == batch under a SHUFFLED permutation") {
    implicit val sqlCtx = spark.sqlContext
    val k = 16
    // 2 keys: k0 crosses sketch capacity (100 distinct > 16), k1 stays
    // under it (8 distinct -> exact). Deliver a deterministic SHUFFLE of
    // the rows across 3 triggers — KMV's commutative/duplicate-free
    // insertion means no ordering contract is needed at all.
    val all0 = (1 to 600).map { i =>
      if (i % 3 == 0) StreamingOps.KmvPoint("k1", s"u${i % 8}")
      else StreamingOps.KmvPoint("k0", s"v${i % 100}")
    }
    val all = new scala.util.Random(7).shuffle(all0)
    val input = MemoryStream[StreamingOps.KmvPoint]
    val q = StreamingOps.runningKmv(input.toDS(), k = k)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Append).start()
    input.addData(all.slice(0, 200)); q.processAllAvailable()
    input.addData(all.slice(200, 400)); q.processAllAvailable()
    input.addData(all.slice(400, 600)); q.processAllAvailable()
    val rows = spark.table("kmv_out")
      .as[StreamingOps.RunningKmv].collect()
    q.stop()
    assert(rows.count(_.key == "k0") === 3, "one emission per key per trigger")
    val lastByKey = rows.groupBy(_.key).view
      .mapValues(_.maxBy(_.n_rows)).toMap
    // == the batch aggregate, bit-for-bit, on the UNSHUFFLED input
    graft.functions.KmvAgg.register(spark)
    val agg = all0.map(p => (p.key, p.v)).toDF("key", "v")
      .groupBy("key").agg(graft.functions.KmvAgg.kmv(col("v"), k).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(lastByKey("k0").distinct_est === agg("k0"),
      "estimator branch must equal the batch sketch bit-for-bit")
    assert(lastByKey("k1").distinct_est === agg("k1"))
    assert(lastByKey("k1").distinct_est === 8.0, "under-capacity is exact")
    assert(lastByKey("k0").n_rows === all0.count(_.key == "k0").toLong)
    assert(math.abs(lastByKey("k0").distinct_est - 100.0) <= 50.0,
      s"k=16 estimate for 100 distinct: ${lastByKey("k0").distinct_est}")
  }

  test("running KMV: state TTL evicts idle keys; re-arrival starts fresh") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.KmvPoint]
    val q = StreamingOps.runningKmv(input.toDS(), k = 16,
        stateTtlMs = 1000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("kmv_ttl_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      StreamingOps.KmvPoint("a", "u1", ts("2025-01-01 00:00:00")),
      StreamingOps.KmvPoint("a", "u2", ts("2025-01-01 00:00:00")))
    q.processAllAvailable()
    input.addData(StreamingOps.KmvPoint("b", "x", ts("2025-01-01 01:00:00")))
    q.processAllAvailable()
    input.addData(StreamingOps.KmvPoint("b", "y", ts("2025-01-01 01:00:01")))
    q.processAllAvailable()
    // key "a" re-arrives past its TTL horizon: a fresh sketch
    input.addData(
      StreamingOps.KmvPoint("a", "u2", ts("2025-01-01 01:00:02")),
      StreamingOps.KmvPoint("a", "u3", ts("2025-01-01 01:00:02")))
    q.processAllAvailable()
    val rows = spark.table("kmv_ttl_out")
      .as[StreamingOps.RunningKmv].collect()
    q.stop()
    val a = rows.filter(_.key == "a")
    // a resumed state would show n_rows (2, 4); eviction restarts at 0
    assert(a.map(_.n_rows).sorted.toSeq === Seq(2L, 2L),
      s"evicted key must restart, got ${a.toSeq}")
    assert(a.forall(_.distinct_est === 2.0),
      "both independent sketches hold 2 distinct values exactly")
  }
}
