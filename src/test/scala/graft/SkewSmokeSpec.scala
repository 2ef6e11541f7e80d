package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.trace._

/** Skewed-input robustness for the trace pipeline (SURVEY.md §4: real FDB
  * logs are dominated by a few event types/roles — StorageMetrics from
  * the storage role can be >90% of all lines).
  *
  * Synthesizes a 400k-event stream where ONE (role, event) pair carries
  * 90% of rows, runs the pipeline's aggregation/sessionization/join
  * operators on it, and asserts the two properties that make the plans
  * skew-immune at 100 TB:
  *
  *  1. every groupBy in the pipeline partial-aggregates (map-side
  *     combine), so the hot key reaches the shuffle as one row per map
  *     partition, not 90% of the data;
  *  2. the joins keep the big (skewed) side shuffle-free — the small side
  *     broadcasts — so there is no hot shuffle partition to split.
  *
  * On top of the structural asserts, a task-time listener checks the
  * measured max/median task duration in every heavyweight stage: with
  * partial aggregation the hot key cannot produce a straggler task.
  */
class SkewSmokeSpec extends SparkSpec {

  private val N = 400000L

  /** 90% (SS, StorageMetrics); the rest spread over 20 cold roles. ts
    * spans 2h; numeric payload on every row; a marker every ~4000 rows
    * so episode sessionization has work to do. */
  private def skewedEvents: DataFrame =
    spark.range(N).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1735689600L) + pmod(col("id") * 7, lit(7200L)))
        .as("ts"),
      when(pmod(col("id"), lit(4000)) === 0, "MasterRecoveryState")
        .when(pmod(col("id"), lit(10)) < 9, "StorageMetrics")
        .otherwise(concat(lit("Cold"), pmod(col("id"), lit(17)))).as("event"),
      when(pmod(col("id"), lit(10)) < 9, "SS")
        .otherwise(concat(lit("role"), pmod(col("id"), lit(20)))).as("role"),
      lit(10).as("severity"),
      map(
        lit("QueryQueue"), (pmod(col("id"), lit(1000)) + 1).cast("string"),
        lit("VersionLag"), (pmod(col("id"), lit(500)) * 100).cast("string"),
        lit("StatusCode"), pmod(col("id"), lit(15)).cast("string")).as("fields"))

  /** Run `f` while recording task durations per stage; returns the rows
    * plus (stageId → task durations ms) for stages with ≥ 4 tasks. */
  private def withTaskStats[T](f: => T): (T, Map[Int, Seq[Long]]) = {
    val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null && e.taskInfo.successful) tasks.synchronized {
          tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      // the listener bus is async and its waitUntilEmpty is private[spark];
      // poll until the task-count stops growing (stable for 500 ms)
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 5 && waited < 15000) {
        val now = tasks.synchronized(tasks.valuesIterator.map(_.length).sum)
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100); waited += 100
      }
      (r, tasks.synchronized {
        tasks.view.filter(_._2.length >= 4)
          .map { case (k, v) => k -> v.toSeq }.toMap
      })
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Straggler check: in every stage heavy enough to measure (median ≥
    * 50 ms), the slowest task must stay within `bound`× the median. A
    * 90%-hot key without map-side combine would put ~360k of 400k rows
    * in one reduce task — far beyond 8× its siblings. */
  private def assertBalanced(stats: Map[Int, Seq[Long]], what: String,
      bound: Double = 8.0): Unit =
    stats.foreach { case (stage, ds) =>
      val sorted = ds.sorted
      val median = sorted(sorted.length / 2).max(1L)
      if (median >= 50L) {
        val ratio = sorted.last.toDouble / median
        assert(ratio <= bound,
          s"$what stage $stage: max task ${sorted.last}ms vs median " +
            s"${median}ms (${ratio}× > ${bound}×) — skew straggler")
      }
    }

  private def assertPartialAgg(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_") || plan.contains("Partial"),
      s"$what has no map-side partial aggregation:\n$plan")
  }

  test("metric baselines under 90% role skew: partial agg, no straggler") {
    val ev = skewedEvents
    val metrics = DerivedTables.eventMetrics(ev)
    val baselines = DerivedTables.metricBaselines(metrics, minCount = 20)
    assertPartialAgg(baselines, "metricBaselines")
    val (rows, stats) = withTaskStats(baselines.collect())
    assert(rows.nonEmpty)
    // the hot (metric, SS) groups must be present and huge: ~360k of
    // 400k rows land on role SS for each payload metric
    assert(rows.exists(r => r.getAs[String]("role") == "SS" &&
      r.getAs[Long]("count") > 300000L))
    assertBalanced(stats, "metricBaselines")
  }

  test("rollups under 90% role skew: partial agg, no straggler") {
    val ev = skewedEvents
    val metrics = DerivedTables.eventMetrics(ev)
    val roll = DerivedTables.rollups(metrics, 60)
    assertPartialAgg(roll, "rollups")
    val (n, stats) = withTaskStats(roll.count())
    assert(n > 0L)
    assertBalanced(stats, "rollups")
  }

  test("severity/event histogram under skew: partial agg, no straggler") {
    val ev = skewedEvents
    val hist = GlobalScanner.eventHistogram(ev, 10)
    assertPartialAgg(hist, "eventHistogram")
    val (rows, stats) = withTaskStats(hist.collect())
    assert(rows.head.getAs[String]("event") == "StorageMetrics")
    assertBalanced(stats, "eventHistogram")
  }

  test("episode sessionization + severity range join under skew") {
    val ev = skewedEvents
    val episodes = GlobalScanner.recoveryEpisodes(ev, gapSeconds = 60)
    // the range join's big side is the full skewed stream; the episode
    // side is tiny and must broadcast — no shuffle of the hot side by a
    // skewed key, hence nothing for AQE's skew-split to even fix
    val plan = episodes.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"recoveryEpisodes range join does not broadcast the episode side:\n$plan")
    val (rows, stats) = withTaskStats(episodes.collect())
    assert(rows.nonEmpty)
    assertBalanced(stats, "recoveryEpisodes")
  }

  test("baseline-window join under skew broadcasts the small side") {
    val ev = skewedEvents
    val metrics = DerivedTables.eventMetrics(ev)
    val baselines = DerivedTables.metricBaselines(metrics, minCount = 20)
    val anomalies = Detectors.baselineWindowAnomalies(metrics, baselines,
      bucketSeconds = 300, zThreshold = 0.5, minSamples = 3)
    // the small side reaches every task as one scalar-subquery map, so
    // the skewed bucketed means are never shuffled by a join key
    val plan = anomalies.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && plan.contains("Subquery"),
      s"bucketed-means × baselines lookup shuffles the skewed side:\n$plan")
    val (n, stats) = withTaskStats(anomalies.count())
    assert(n >= 0L)
    assertBalanced(stats, "baselineWindowAnomalies")
  }
}
