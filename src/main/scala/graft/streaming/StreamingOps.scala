package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming forms of the batch semantics (SURVEY.md §2.9):
  * the reference is batch-only, but its rollups/sessionization/anomaly
  * shapes are streaming-native — tumbling windows, session windows, and
  * keyed running state. The same column logic is shared with the batch
  * operators; only the source/sink differ.
  */
object StreamingOps {

  /** Tumbling metric rollups over a (streaming) metrics frame:
    * groupBy(window(ts, Ns), role, metric) agg n/avg/max — the streaming
    * twin of DerivedTables.rollups. With `watermark` set, late rows beyond
    * it are dropped and windows finalize in append mode. */
  def rollupStream(metrics: DataFrame, intervalSeconds: Int = 60,
      watermark: String = "2 minutes"): DataFrame =
    metrics
      .withWatermark("ts", watermark)
      // group by the window STRUCT (it carries the event-time/watermark
      // metadata append mode needs); project .start only afterwards
      .groupBy(window(col("ts"), s"$intervalSeconds seconds"),
        col("role"), col("metric_name"))
      .agg(count(lit(1)).as("n"), avg(col("metric_value")).as("avg"),
        max(col("metric_value")).as("max"))
      .select(col("window.start").as("window_start"), col("role"),
        col("metric_name"), col("n"), col("avg"), col("max"))

  /** Session windows per key with a gap — the streaming twin of the
    * gaps-and-islands episode clustering (W5). */
  def sessionStream(events: DataFrame, keyCol: String,
      gapSeconds: Int = 60, watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"$gapSeconds seconds"),
        col(keyCol))
      .agg(count(lit(1)).as("n_events"), max(col("severity")).as("max_severity"))
      .select(col(keyCol),
        col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"),
        col("max_severity"))

  /** Continuous ingest into the partitioned event store: every
    * micro-batch is appended through the SAME writer the batch path uses
    * (`Store.writeEvents` — event_date directory partitioning, ts-sorted
    * files), so a live stream and a batch rebuild produce the identical
    * layout and every Store reader (the partition-pruned trace analytics
    * family) works unchanged over either. Exactly-once at the batch
    * level comes from the checkpoint; at 100 TB the per-batch
    * `repartition(event_date)` keeps one writer task per open day
    * instead of one tiny file per executor per day. */
  def ingestToStore(events: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.sources.Store.writeEvents(batch, dir, mode = "append")
      }
      .start()

  case class DistinctPoint(key: String, value: String,
      ts: java.sql.Timestamp = null)
  case class HllState(n_seen: Long, regs: Array[Byte])
  case class RunningDistinct(key: String, n_seen: Long, zeros: Int,
      est: Double)

  /** State-TTL plumbing shared by the keyed running carriers.
    * `stateTtlMs = 0` (the default) keeps the exact NoTimeout semantics —
    * state lives forever and the batch twin is bit-for-bit unchanged.
    * `stateTtlMs > 0` bounds key-cardinality growth on 100-TB streams
    * (keys churn; an abandoned key's 8-to-24k-byte state must not
    * accumulate forever): the input gets an event-time watermark
    * (`watermarkDelay`) and each key's state an EventTimeTimeout at
    * (current watermark + ttl), re-armed on every arrival — once the
    * watermark passes a key's last-activity horizon its state is
    * REMOVED, and a later re-arrival starts a fresh, correct
    * sketch/sample seeded only by post-eviction rows (spec-pinned).
    * Nothing is emitted at eviction; the last pre-eviction emission
    * already carried the final state. */
  private def armTtl[S](state: GroupState[S], stateTtlMs: Long): Unit =
    if (stateTtlMs > 0L)
      state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + stateTtlMs)

  /** Keyed RUNNING approximate-distinct — the streaming carrier of the
    * HLL sketch (functions.HllAgg): per key, hold the SAME md5-seeded
    * 256-byte register array across triggers (state = EXACTLY 8 + 256
    * bytes per key FOREVER — a distinct-count stream that runs
    * indefinitely), and after each trigger emit the current (zeros,
    * estimate). Register max is commutative/idempotent and the hash is a
    * pure function of the value — not of arrival order, trigger
    * boundaries, or duplication — so the emission after the last trigger
    * is EXACTLY the batch `graft_hll` over everything seen, which is
    * what lets a batch execution of this operator be oracle-verified
    * (`ev_streaming_distinct`) and StreamingSpec pin stream == batch
    * across micro-batches. */
  def runningDistinct(points: Dataset[DistinctPoint],
      stateTtlMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): Dataset[RunningDistinct] = {
    import points.sparkSession.implicits._
    import graft.functions.HllAgg
    val src = if (stateTtlMs > 0L)
      points.withWatermark("ts", watermarkDelay) else points
    val timeout = if (stateTtlMs > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: String, rows: Iterator[DistinctPoint],
            state: GroupState[HllState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val s0 = state.getOption.getOrElse(
            HllState(0L, new Array[Byte](HllAgg.M)))
          val regs = s0.regs.clone()
          var n = s0.n_seen
          rows.foreach { p =>
            if (p.value != null) HllAgg.updateString(regs, p.value)
            n += 1
          }
          state.update(HllState(n, regs))
          armTtl(state, stateTtlMs)
          val (zeros, est) = HllAgg.estimate(regs)
          Iterator.single(RunningDistinct(key, n, zeros, est))
          }
        })
  }

  case class QuantilePoint(key: String, row_key: String, value: Double,
      ts: java.sql.Timestamp = null)
  case class QuantileState(n_seen: Long, sample: Array[Byte])
  case class RunningQuantiles(key: String, n_seen: Long,
      quantiles: Seq[Double])

  /** Keyed RUNNING sampled quantiles — the streaming carrier of round
    * 8's bounded-state percentile (functions.PctSampleAgg): per key,
    * maintain the SAME deterministic bottom-k-by-md5(row_key) sample
    * across triggers (state = the serialized sample, AT MOST 4 + 24·k
    * bytes per key forever — a quantile stream that runs indefinitely),
    * and after each trigger emit the current interpolated quantiles.
    * Because the sample rule is a pure function of the row keys — not of
    * arrival order or trigger boundaries — the emission after the last
    * trigger is EXACTLY the batch `graft_pct_sample` over everything
    * seen, which is what lets a batch execution of this operator be
    * oracle-verified (`ev_streaming_quantile`) and StreamingSpec pin
    * stream == batch across micro-batches. */
  def runningQuantiles(points: Dataset[QuantilePoint],
      pcts: Seq[Double], k: Int = 1024,
      stateTtlMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): Dataset[RunningQuantiles] = {
    import points.sparkSession.implicits._
    import graft.functions.PctSampleAgg
    val src = if (stateTtlMs > 0L)
      points.withWatermark("ts", watermarkDelay) else points
    val timeout = if (stateTtlMs > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: String, rows: Iterator[QuantilePoint],
            state: GroupState[QuantileState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val s0 = state.getOption.getOrElse(
            QuantileState(0L, PctSampleAgg.serializeBuffer(
              new PctSampleAgg.Buffer(k))))
          val buf = PctSampleAgg.deserializeBuffer(s0.sample, k)
          var n = s0.n_seen
          rows.foreach { p =>
            PctSampleAgg.insertKeyed(buf, p.row_key, p.value)
            n += 1
          }
          state.update(QuantileState(n, PctSampleAgg.serializeBuffer(buf)))
          armTtl(state, stateTtlMs)
          Option(PctSampleAgg.quantilesOf(buf, pcts))
            .map(qs => RunningQuantiles(key, n, qs.toSeq)).iterator
          }
        })
  }

  case class MetricPoint(metric: String, ts: java.sql.Timestamp, value: Double)
  /** Exact integer power sums at cent scale (n, Σc, Σc²) — sumSq rides as
    * DECIMAL(38,0) through the state encoder; the math runs in BigInt. */
  case class MetricState(n: Long, sumCents: Long, sumSqCents: BigDecimal)
  case class Flagged(metric: String, ts: java.sql.Timestamp, value: Double,
      zscore: Double)

  /** Keyed running anomaly gate: per metric key, maintain running state
    * across triggers and emit points whose z-score against the
    * state-so-far exceeds the threshold — the streaming twin of the
    * per-event z-score gate, with true incremental state instead of a
    * global recompute.
    *
    * The state is EXACT integer power sums of the 2-dp values at cent
    * scale (n, Σcents, Σcents²) rather than float Welford (mean, M2):
    * z² = (c·n − S)²·(n−1) / ((Q·n − S²)·n) with every term an exact
    * integer, so the SAME BigInt numerator/denominator arise from any
    * fold order or engine, and the only float ops are one cast-divide-
    * sqrt from those exact integers — bit-identical everywhere. The
    * Welford form was algebraically the same z but accumulated in
    * floats, and at 100×-scale groups (~2M rows/metric) its ulp drift
    * near the threshold flipped ~20 boundary rows vs the oracle's
    * windowed VAR_SAMP — caught by the round-8 full-registry 100× gate.
    * Exactness rests on the engine-wide 2-dp data contract (QueryDef's
    * DECIMAL(18,2) convention); `centsScale` generalizes the precision.
    *
    * `sortWithinTrigger` orders each group's rows by (ts, value) before
    * folding. In a live stream, rows fold in arrival order (per trigger);
    * sorting makes the fold order — and therefore every emitted z — a
    * pure function of the data, which is what lets the batch execution
    * of this exact operator be value-verified against an external
    * oracle. (With exact state the STATE no longer depends on fold order
    * at all; ordering still pins which rows are scored before which.)
    * Cost: one in-memory sort of the rows a trigger delivers per key
    * (bounded by trigger size, not corpus size).
    *
    * Scale note: parallelism equals key cardinality — per-metric state is
    * inherently sequential. With few metrics and heavy streams, key by a
    * composite (metric, shard) and accept per-shard baselines, or keep
    * the gate behind the per-window rollup (rollupStream) so each task
    * folds pre-aggregated points; the state itself stays O(1) per key
    * either way. */
  def runningAnomalyGate(points: Dataset[MetricPoint],
      zThreshold: Double = 3.0, minSamples: Long = 3,
      sortWithinTrigger: Boolean = false,
      centsScale: Double = 100.0,
      stateTtlMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): Dataset[Flagged] = {
    import points.sparkSession.implicits._
    val src = if (stateTtlMs > 0L)
      points.withWatermark("ts", watermarkDelay) else points
    val timeout = if (stateTtlMs > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.metric)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (metric: String, rows: Iterator[MetricPoint],
            state: GroupState[MetricState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val s0 = state.getOption.getOrElse(
            MetricState(0L, 0L, BigDecimal(0)))
          var n = s0.n
          var sum = s0.sumCents
          var q = s0.sumSqCents.toBigInt
          val out = scala.collection.mutable.ArrayBuffer.empty[Flagged]
          val ordered =
            if (sortWithinTrigger)
              // full microsecond precision: getTime truncates to millis,
              // so two sub-millisecond neighbors would fold in a different
              // order than the oracle's microsecond ORDER BY derives
              rows.toSeq.sortBy(p => (p.ts.toInstant.getEpochSecond * 1000000L
                + p.ts.toInstant.getNano / 1000L, p.value)).iterator
            else rows
          ordered.foreach { p =>
            val c = Math.round(p.value * centsScale)
            if (n >= minSamples) {
              val num = (BigInt(c) * n - sum).pow(2) * (n - 1)
              val den = (q * n - BigInt(sum).pow(2)) * n
              if (den.signum > 0) {
                // the ONLY float ops: one cast each, one divide, one sqrt
                // — identical IEEE sequence to the oracle's
                val z = math.sqrt(num.toDouble / den.toDouble)
                if (z > zThreshold) out += Flagged(metric, p.ts, p.value, z)
              }
            }
            // update AFTER scoring: each point is judged against the
            // history before it (streaming semantics)
            n += 1
            sum += c
            q += BigInt(c) * BigInt(c)
          }
          state.update(MetricState(n, sum, BigDecimal(q)))
          armTtl(state, stateTtlMs)
          out.iterator
          }
        })
  }

  case class FunnelPoint(key: Long, step: Int, us: Long,
      ts: java.sql.Timestamp = null)
  /** t(i) = epoch-micros of funnel step i+1, [[FunnelUnset]] when the key
    * has not reached it. The set entries are strictly increasing and form
    * a prefix (step i can only be set once step i-1 is). */
  case class FunnelState(t: Array[Long])
  case class RunningFunnel(key: Long, t_us: Seq[Long], steps_completed: Int)

  val FunnelUnset: Long = Long.MinValue

  /** Keyed RUNNING ordered funnel — the streaming carrier of
    * [[graft.ops.Funnel.steps]]: per key, hold ONLY the t₁..tₙ step-time
    * vector across triggers (state = EXACTLY 8·n bytes per key, TTL-able
    * like the other carriers) and after each trigger emit the key's
    * current (step times, steps_completed) — `t_us` carries the completed
    * prefix, so `get(t_us, i-1)` is tᵢ or null, matching the batch
    * schema.
    *
    * Within a trigger the group's rows fold SORTED by (us, step), and the
    * sorted greedy fold IS the batch funnel: t₁ is set by the earliest
    * step-1 event before any later event folds; a step-i event at time s
    * folds after tᵢ₋₁ is final (s > tᵢ₋₁ means it sorts later), so the
    * first accepted one is exactly min{s ∈ Sᵢ : s > tᵢ₋₁} — and events
    * skipped while tᵢ₋₁ was unset are ≤ the eventual tᵢ₋₁, which the
    * batch's STRICTLY-after rule excludes too. Hence one batch = the
    * whole corpus (the registered `ev_streaming_funnel` execution)
    * reproduces `Funnel.steps` bit-for-bit on ANY input order, and a
    * multi-trigger stream reproduces it whenever each key's triggers
    * arrive event-time ordered (the watermark contract). Cross-trigger
    * LATE data degrades gracefully, never inconsistently: a late step-1
    * event lowers t₁ (the chain t₁<t₂<… stays valid); a late step-i
    * event refines tᵢ only against evidence still in hand — the t-vector
    * cannot recall step-i events discarded in earlier triggers (that
    * would take unbounded state), which is the documented approximation.
    *
    * Scale note: the per-trigger sort is bounded by what the trigger
    * delivers per key, not the corpus. In the batch-as-oracle execution a
    * key's ENTIRE history sorts in one task — that is the verification
    * harness's cost; a batch job wants [[graft.ops.Funnel.steps]], whose
    * conditional-min plan never materializes a key's event list. */
  def runningFunnel(points: Dataset[FunnelPoint], nSteps: Int,
      stateTtlMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): Dataset[RunningFunnel] = {
    require(nSteps >= 2, "a funnel needs at least two steps")
    import points.sparkSession.implicits._
    val src = if (stateTtlMs > 0L)
      points.withWatermark("ts", watermarkDelay) else points
    val timeout = if (stateTtlMs > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: Long, rows: Iterator[FunnelPoint],
            state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          val t = state.getOption.map(_.t.clone())
            .getOrElse(Array.fill(nSteps)(FunnelUnset))
          val ordered = rows.toArray.sortBy(p => (p.us, p.step))
          ordered.foreach { p =>
            val i = p.step - 1
            if (i == 0) {
              if (t(0) == FunnelUnset || p.us < t(0)) t(0) = p.us
            } else if (i > 0 && i < nSteps && t(i - 1) != FunnelUnset &&
                p.us > t(i - 1) &&
                (t(i) == FunnelUnset || p.us < t(i))) {
              t(i) = p.us
            }
          }
          if (t(0) == FunnelUnset) {
            // no step-1 evidence yet: batch emits nothing for this key,
            // and (strictly-after) its step-2+ events seen so far could
            // never have counted — hold no state at all
            Iterator.empty
          } else {
            state.update(FunnelState(t))
            armTtl(state, stateTtlMs)
            val done = t.takeWhile(_ != FunnelUnset)
            Iterator.single(RunningFunnel(key, done.toSeq, done.length))
          }
          }
        })
  }

  case class SessionPoint(key: Long, eid: Long, sec: Long,
      ts: java.sql.Timestamp = null)
  /** The OPEN session only: its running index, extrema, the previous
    * event's sec (the gap test is against the PREVIOUS event in eid
    * order, not the max — events need not be time-ordered by eid), and
    * its event count. Fixed 40 bytes per key, forever. */
  case class SessionState(idx: Long, minSec: Long, maxSec: Long,
      lastSec: Long, n: Long)
  case class RunningSession(key: Long, session_id: Long, n_events: Long,
      start_sec: Long, end_sec: Long, closed: Boolean)

  /** Keyed RUNNING gap-sessionization — the streaming carrier of the W5
    * gaps-and-islands operator (the `ev_sessionize` semantics: per key,
    * events in eid order start a new session when the gap to the
    * PREVIOUS event exceeds `gapSec`; session stats are min/max/count
    * over its events). State per key is ONLY the open session's 40-byte
    * summary — never an event list — so a key with 10⁹ events costs the
    * same as one with 10.
    *
    * Each trigger folds its rows SORTED by eid and emits every session
    * CLOSED by the fold (final — no later event can re-open it, because
    * eid-ordered delivery means all its members have arrived) plus the
    * currently-open session's refined summary (closed = false; a later
    * trigger may extend it, and the LAST emission per (key, session_id)
    * is the settled value). A single-batch execution therefore
    * reproduces batch sessionization EXACTLY — every session appears
    * once, the final one open — which is what the registered
    * `ev_streaming_sessions` oracle verifies; StreamingSpec pins
    * multi-trigger == batch under eid-ordered delivery (the analogue of
    * the other carriers' event-time-ordered contract) and the TTL path.
    *
    * Memory bounds, precisely: cross-trigger STATE is the fixed 40
    * bytes, but the per-trigger fold buffers each key's rows delivered
    * in THAT trigger (`rows.toArray.sortBy`) — O(rows per key per
    * trigger) task memory. The "a key with 10⁹ events costs the same as
    * one with 10" claim is about state; in the single-batch oracle
    * execution the whole key sorts on one task (the harness's cost —
    * a batch job wants `ev_sessionize`'s window plan). A real streaming
    * deployment bounds the fold by the trigger interval. */
  def runningSessions(points: Dataset[SessionPoint], gapSec: Long = 1800L,
      stateTtlMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): Dataset[RunningSession] = {
    require(gapSec >= 0L, s"session gap must be >= 0, got $gapSec")
    import points.sparkSession.implicits._
    val src = if (stateTtlMs > 0L)
      points.withWatermark("ts", watermarkDelay) else points
    val timeout = if (stateTtlMs > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: Long, rows: Iterator[SessionPoint],
            state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ordered = rows.toArray.sortBy(_.eid)
            var cur = state.getOption.orNull
            val out = Seq.newBuilder[RunningSession]
            ordered.foreach { p =>
              cur match {
                case null =>
                  cur = SessionState(0L, p.sec, p.sec, p.sec, 1L)
                case s if p.sec - s.lastSec > gapSec =>
                  out += RunningSession(key, s.idx, s.n,
                    s.minSec, s.maxSec, closed = true)
                  cur = SessionState(s.idx + 1L, p.sec, p.sec, p.sec, 1L)
                case s =>
                  cur = SessionState(s.idx, math.min(s.minSec, p.sec),
                    math.max(s.maxSec, p.sec), p.sec, s.n + 1L)
              }
            }
            if (cur == null) Iterator.empty
            else {
              state.update(cur)
              armTtl(state, stateTtlMs)
              out += RunningSession(key, cur.idx, cur.n,
                cur.minSec, cur.maxSec, closed = false)
              out.result().iterator
            }
          }
        })
  }

  case class KmvPoint(key: String, v: String,
      ts: java.sql.Timestamp = null)
  case class KmvState(bytes: Array[Byte], n: Long)
  case class RunningKmv(key: String, n_rows: Long, distinct_est: Double)

  /** Keyed RUNNING distinct-cardinality monitor — the streaming carrier
    * of [[graft.functions.KmvAgg]] (the per-key "how many distinct X so
    * far" gauge: distinct users per event type, distinct fingerprints
    * per source, ...). State per key is the serialized KMV sketch plus a
    * row counter — at most 4 + 16·k + 8 bytes FOREVER, TTL-able.
    *
    * Because KMV insertion is commutative and duplicate-insensitive,
    * this carrier's batch equality needs NO delivery-order contract at
    * all (stronger than the funnel/session carriers'
    * ordered-delivery clause): any partitioning of any permutation of
    * the input through any trigger boundaries yields the same final
    * sketch, so the LAST emission per key always equals the batch
    * `graft_kmv` aggregate — which is what the registered
    * `ev_streaming_kmv` oracle verifies on a single-batch execution.
    * Each trigger emits the key's refined (n_rows, distinct_est);
    * estimates are exact below sketch capacity. */
  def runningKmv(points: Dataset[KmvPoint], k: Int = 256,
      stateTtlMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): Dataset[RunningKmv] = {
    import points.sparkSession.implicits._
    import graft.functions.KmvAgg
    require(k >= 2, s"k must be >= 2, got $k")
    val src = if (stateTtlMs > 0L)
      points.withWatermark("ts", watermarkDelay) else points
    val timeout = if (stateTtlMs > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: String, rows: Iterator[KmvPoint],
            state: GroupState[KmvState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption
            val buf = prior.map(p => KmvAgg.deserializeBuffer(p.bytes, k))
              .getOrElse(new KmvAgg.Buffer(k))
            var n = prior.map(_.n).getOrElse(0L)
            rows.foreach { p =>
              if (p.v != null) { KmvAgg.insertString(buf, p.v); n += 1 }
            }
            state.update(KmvState(KmvAgg.serializeBuffer(buf), n))
            armTtl(state, stateTtlMs)
            Iterator.single(RunningKmv(key, n, KmvAgg.estimate(buf)))
          }
        })
  }
}
