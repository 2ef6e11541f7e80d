package graft

import org.apache.spark.sql.Row

import graft.ops.LlmBoundary
import graft.trace.RcaLoop

/** Scripted model: confidence climbs 0.3 per call — crosses the 0.8
  * threshold on call 3. Proves the loop's stop condition independent of
  * the hash-derived stub. Top-level so Spark doesn't drag the suite into
  * the closure. */
private class ScriptedClient extends LlmBoundary.LlmClient {
  def complete(prompts: Seq[String]): Seq[String] = prompts.map { _ =>
    val n = ScriptedClient.calls.incrementAndGet()
    val conf = math.min(0.3 * n, 1.0)
    s"""```json
       |{"hypothesis": "VersionLag storage pressure (call $n)", "confidence": $conf}
       |```""".stripMargin
  }
}
private object ScriptedClient {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}

private class LowConfidenceClient extends LlmBoundary.LlmClient {
  def complete(prompts: Seq[String]): Seq[String] =
    prompts.map(_ => """{"hypothesis": "unsure", "confidence": 0.1}""")
}

/** Records every prompt it is sent; answers with low confidence. */
private class CapturingClient extends LlmBoundary.LlmClient {
  def complete(prompts: Seq[String]): Seq[String] = prompts.map { p =>
    CapturingClient.prompts.add(p)
    """{"hypothesis": "unsure", "confidence": 0.1}"""
  }
}
private object CapturingClient {
  val prompts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The iterative RCA loop: convergence, confidence shaping, trace shape
  * (investigation_agent.py:866-903, 926-1327). */
class RcaLoopSpec extends SparkSpec {

  test("loop converges when confidence crosses the threshold") {
    ScriptedClient.calls.set(0)
    val events = trace.TraceEvents.load(spark, RefXml, stableIds = true)
    val t = RcaLoop.investigate(events, "why did recovery loop?",
      new ScriptedClient).collect()
    // phase A first, then drill-down iterations
    assert(t.head.getAs[String]("phase") === "A")
    assert(!t.head.getAs[Boolean]("llm_called"))
    assert(t.map(_.getAs[Int]("iteration")).toSeq === (1 to t.length))
    val last = t.last
    assert(last.getAs[String]("stop_reason") === "confidence_reached")
    assert(last.getAs[Double]("confidence") >= 0.8)
    // "VersionLag" hypothesis = metric focus, and the evidence log
    // mentions "throttling" (the detector's name) → the metric-focus
    // boost applies: call 3 gives 0.3*3 shaped +0.1
    assert(math.abs(last.getAs[Double]("confidence") - (0.3 * 3 + 0.1)) < 1e-9)
    assert(t.count(_.getAs[Boolean]("llm_called")) === 3)
    assert(t.length < 10, "should stop well before the iteration cap")
  }

  test("loop halts without convergence: stalled fixed point or cap") {
    val events = trace.TraceEvents.load(spark, RefXml, stableIds = true)
    val t = RcaLoop.investigate(events, "?", new LowConfidenceClient,
      RcaLoop.Config(maxIterations = 4)).collect()
    assert(t.last.getAs[Double]("confidence") === 0.1)
    // the fixture has more divable 10s buckets than 4 iterations can
    // cover, so the loop keeps gathering context until the cap
    assert(t.length === 4)
    assert(t.last.getAs[String]("stop_reason") === "max_iterations")
  }

  test("loop detects the stalled fixed point once coverage completes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // three events in ONE 10s bucket: a single dive covers everything,
    // after which context can't grow and the LLM is never re-consulted —
    // the loop must exit instead of spinning to the cap
    val events = Seq(
      (1L, "2025-01-01 00:00:01", "A", 20),
      (2L, "2025-01-01 00:00:02", "B", 30),
      (3L, "2025-01-01 00:00:03", "C", 40))
      .toDF("event_id", "tss", "event", "severity")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .withColumn("role", lit(null).cast("string"))
      .withColumn("fields", map().cast("map<string,string>"))
    val t = RcaLoop.investigate(events, "?", new LowConfidenceClient,
      RcaLoop.Config(maxIterations = 8)).collect()
    assert(t.length < 8)
    assert(t.last.getAs[String]("stop_reason") === "stalled")
  }

  test("empty input: time_span evidence reads n=0, not NULL") {
    import org.apache.spark.sql.functions._
    CapturingClient.prompts.clear()
    val events = spark.range(0)
      .select(col("id").as("event_id"), lit(null).cast("timestamp").as("ts"),
        lit("").as("event"), lit(0).as("severity"),
        lit(null).cast("string").as("role"),
        map().cast("map<string,string>").as("fields"))
    val t = RcaLoop.investigate(events, "?", new CapturingClient,
      RcaLoop.Config(maxIterations = 3)).collect()
    assert(t.nonEmpty)
    val prompt = CapturingClient.prompts.peek()
    assert(prompt != null, "the loop never consulted the LLM")
    assert(prompt.contains("\ntime_span: n=0 first= last=\n"), prompt)
  }

  test("confidence shaping mirrors the reference's three rules") {
    // event-name focus + metric anomalies present → capped at 0.4
    val (c1, r1) = RcaLoop.shapeConfidence(
      "severity 30 FKReenableLB noise", "", 0.9, "VersionLag spike at t0")
    assert(c1 === 0.4 && r1.startsWith("[Confidence reduced"))
    // event-name focus, no anomalies → capped at 0.5
    val (c2, _) = RcaLoop.shapeConfidence(
      "informational events only", "", 0.9, "nothing of note")
    assert(c2 === 0.5)
    // metric focus + anomalies → boosted by 0.1, capped at 1.0
    val (c3, r3) = RcaLoop.shapeConfidence(
      "VersionLag runaway on storage", "", 0.85, "slowssloop detected")
    assert(c3 === 0.95 && r3.startsWith("[Confidence boosted"))
    val (c4, _) = RcaLoop.shapeConfidence(
      "latency degradation", "", 0.95, "throttling observed")
    assert(c4 === 1.0)
    // neither focus → untouched
    val (c5, _) = RcaLoop.shapeConfidence("mystery", "", 0.7, "quiet")
    assert(c5 === 0.7)
  }

  test("shaping reads the CURRENT response's reasoning, never prior shaped text") {
    // Regression (round-3 advice): feeding a prior call's SHAPED reasoning
    // back in would latch metricFocus forever — every shaping prefix
    // contains "metric(s)" — so an event-name-focused hypothesis would
    // dodge its 0.4/0.5 caps on all later calls.
    val (c1, shaped1) = RcaLoop.shapeConfidence(
      "informational events only", "", 0.9, "nothing of note")
    assert(c1 === 0.5)
    // WRONG input (the old bug): prior shaped text → cap dodged
    val (cBug, _) = RcaLoop.shapeConfidence(
      "severity 30 noise", shaped1, 0.9, "VersionLag spike")
    assert(cBug === 1.0) // metricFocus latched: boost instead of the 0.4 cap
    // RIGHT input (fresh per-response reasoning, here empty): cap applies
    val (cFixed, shaped2) = RcaLoop.shapeConfidence(
      "severity 30 noise", "", 0.9, "VersionLag spike")
    assert(cFixed === 0.4)
    // and prefixes don't stack across calls when fresh reasoning is passed
    assert(shaped2.count(_ == '[') === 1)
  }

  test("trace records dives: buckets chosen until coverage completes") {
    ScriptedClient.calls.set(0)
    val events = trace.TraceEvents.load(spark, RefXml, stableIds = true)
    val t = RcaLoop.investigate(events, "?", new ScriptedClient,
      RcaLoop.Config(maxIterations = 6)).collect()
    val dives = t.filter(_.getAs[String]("phase") === "B")
    // the 2-second fixture has at least one divable 10s bucket
    assert(dives.exists(r => !r.isNullAt(r.fieldIndex("chosen_bucket"))))
    // a dive that found events marks context dirty → a later LLM call ran
    assert(dives.count(_.getAs[Boolean]("llm_called")) >= 1)
  }
}
