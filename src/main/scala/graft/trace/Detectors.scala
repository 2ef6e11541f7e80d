package graft.trace

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's detector battery (tools/investigation_tools/detectors.py)
  * as pure DataFrame transforms. Each detector returns its anomaly rows;
  * `summary` collapses them to the detected/count/first/last shape the
  * report consumes. Baseline lookups carry the (metric, role) →
  * (metric, 'ALL') fallback of detectors.py:20-57 as lookups + coalesce.
  */
object Detectors {

  private def f(k: String): Column = element_at(col("fields"), k)

  /** detected/count/first_ts/last_ts summary of an anomaly stream —
    * bucket-shaped detectors report their epoch bucket as the timestamp. */
  def summary(anomalies: DataFrame): DataFrame = {
    val t =
      if (anomalies.columns.contains("ts")) col("ts")
      else if (anomalies.columns.contains("bucket"))
        timestamp_seconds(col("bucket"))
      else lit(null).cast("timestamp")
    anomalies.agg(
      (count(lit(1)) > 0).as("detected"),
      count(lit(1)).as("count"),
      min(t).as("first_ts"),
      max(t).as("last_ts"))
  }

  /** Attach b_mean / b_std per row with a field-wise 'ALL' fallback
    * (detectors.py:20-57). The baselines fold into ONE key → (mean,
    * stddev) map, read as a scalar subquery: the baselines subtree runs
    * once and its value reaches every task, with no join to plan. `key`
    * builds the map key from a role column; a row looks up its own role,
    * then 'ALL'. Baselines hold one row per (metric_name, role), as
    * metricBaselines builds them. */
  private def lookupBaseline(rows: DataFrame, baselines: DataFrame,
      key: Column => Column): DataFrame = {
    val byKey = baselines.agg(map_from_entries(collect_list(struct(
      key(col("role")), struct(col("mean"), col("stddev")))))).scalar()
    val own = element_at(col("b_map"), key(coalesce(col("role"), lit("ALL"))))
    val all = element_at(col("b_map"), key(lit("ALL")))
    rows.withColumn("b_map", byKey)
      .withColumn("b_mean", coalesce(own("mean"), all("mean")))
      .withColumn("b_std", coalesce(own("stddev"), all("stddev")))
      .drop("b_map")
  }

  /** One metric's baseline per row's role, via [[lookupBaseline]]. */
  def withBaseline(rows: DataFrame, baselines: DataFrame,
      metricName: String): DataFrame =
    lookupBaseline(rows, baselines.filter(col("metric_name") === metricName),
      identity)

  /** storage_engine_pressure (detectors.py:60-122): VersionLag on
    * StorageMetrics events; flag z ≥ 3 vs baseline OR raw > 50000. */
  def storagePressureAnomalies(events: DataFrame, baselines: DataFrame,
      lagThreshold: Double = 50000, zThreshold: Double = 3.0): DataFrame = {
    val lags = events
      .filter(col("event") === "StorageMetrics")
      .withColumn("lag", graft.functions.PyNum.py_float(
        coalesce(f("VersionLag"), f("versionLag"))))
      .filter(col("lag").isNotNull)
      .select(col("ts"), col("event_id"),
        coalesce(col("role"), lit("ALL")).as("role"), col("lag"))
    withBaseline(lags, baselines, "VersionLag")
      .withColumn("zscore",
        when(col("b_std").isNotNull && col("b_std") > 0,
          abs((col("lag") - col("b_mean")) / col("b_std"))))
      .filter((col("zscore").isNotNull && col("zscore") >= zThreshold) ||
        col("lag") > lagThreshold)
      .select("ts", "event_id", "role", "lag", "zscore")
  }

  /** ratekeeper_throttling (detectors.py:126-149) as a row predicate —
    * exposed so detector batteries can fuse several stateless detectors
    * into ONE conditional-aggregation scan of the events table. */
  val ratekeeperThrottlingPred: Column =
    (col("event").like("%Ratekeeper%") || col("event").like("%Throttle%")) &&
      (lower(col("event")).contains("throttle") ||
        exists(map_keys(col("fields")), k => lower(k).contains("throttle")))

  def ratekeeperThrottling(events: DataFrame): DataFrame =
    events.filter(ratekeeperThrottlingPred)
      .select("ts", "event_id", "event", "severity")

  /** missing_tlogs (detectors.py:152-173) as a row predicate. */
  val missingTlogsPred: Column =
    col("event").like("%TLog%") &&
      (col("event").like("%Missing%") || col("event").like("%Failed%") ||
        col("event").like("%Error%"))

  def missingTlogs(events: DataFrame): DataFrame =
    events.filter(missingTlogsPred)
      .select("ts", "event_id", "event", "severity")

  /** recovery_loop (detectors.py:176-203): count positions where the
    * (i+threshold-1)-th MasterRecoveryState is within windowSeconds of the
    * i-th, over the time-ordered recovery stream. */
  def recoveryLoops(events: DataFrame, threshold: Int = 3,
      windowSeconds: Int = 60): DataFrame = {
    val recov = events
      .filter(col("event").like("%MasterRecoveryState%") &&
        col("ts").isNotNull)
      .select(col("ts"), col("event_id"))
    val stepped =
      if (threshold <= 1) recov.withColumn("nth_later", col("ts"))
      else graft.ops.ScanOps.leadK(recov, Seq("ts", "event_id"), "ts",
        "nth_later", threshold - 1)
    stepped.filter(col("nth_later").isNotNull &&
      unix_timestamp(col("nth_later")) - unix_timestamp(col("ts")) <= windowSeconds)
  }

  /** coordination_loss (detectors.py:206-231): Coordinator events whose
    * name or stringified payload mentions fail/lost — as a row predicate. */
  val coordinationLossPred: Column =
    col("event").like("%Coordinator%") &&
      (lower(col("event")).contains("fail") ||
        lower(col("event")).contains("lost") ||
        lower(to_json(col("fields"))).contains("fail") ||
        lower(to_json(col("fields"))).contains("lost"))

  def coordinationLoss(events: DataFrame): DataFrame =
    events.filter(coordinationLossPred)
      .select("ts", "event_id", "event")

  /** Several stateless detectors in ONE scan: per-predicate conditional
    * aggregates (count / first / last over when(pred)) computed side by
    * side, then pivoted to one summary row per detector — same rows as
    * `summary(events.filter(pred))` per detector, minus N−1 full passes
    * over the events table. The battery queries use this for every
    * detector that is a pure row predicate; stateful detectors (baseline
    * z-scores, recovery loops) keep their own subtrees. */
  def predicateSummaries(events: DataFrame,
      preds: Seq[(String, Column)]): DataFrame = {
    val aggs = preds.flatMap { case (name, p) => Seq(
      count(when(p, 1)).as(s"__c_$name"),
      min(when(p, col("ts"))).as(s"__f_$name"),
      max(when(p, col("ts"))).as(s"__l_$name")) }
    events.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(preds.map { case (name, _) =>
        struct(lit(name).as("detector"),
          (col(s"__c_$name") > 0).as("detected"),
          col(s"__c_$name").as("count"),
          col(s"__f_$name").as("first_ts"),
          col(s"__l_$name").as("last_ts"))
      }: _*)).as("d"))
      .select("d.*")
  }

  /** The whole 6-detector battery as one summary frame (detector,
    * detected, count, first_ts, last_ts), ordered by detector name so the
    * output is total. The three stateless predicate detectors share ONE
    * conditional-aggregation scan (predicateSummaries); the stateful ones
    * (baseline z-scores, recovery-loop windows, recency z-gate) keep
    * their own subtrees. Callers that already computed baselines (e.g. a
    * session cache) pass them in — the battery itself never recomputes
    * the metrics EAV. */
  def battery(events: DataFrame, baselines: DataFrame): DataFrame = {
    val stateful = Seq(
      "storage_pressure" -> storagePressureAnomalies(events, baselines),
      "recovery_loop" -> recoveryLoops(events),
      "metric_anomalies" -> metricAnomalies(events))
      .map { case (name, d) =>
        summary(d).withColumn("detector", lit(name))
          .select("detector", "detected", "count", "first_ts", "last_ts")
      }.reduce(_ unionAll _)
    val fused = predicateSummaries(events, Seq(
      "ratekeeper_throttling" -> ratekeeperThrottlingPred,
      "missing_tlogs" -> missingTlogsPred,
      "coordination_loss" -> coordinationLossPred))
    stateful.unionAll(fused).orderBy("detector")
  }

  /** metric_anomalies (detectors.py:355-394): the per-event z-score gate
    * (AnomalyGate = anomaly_detector.py's MetricAnomalyDetector) run over
    * the `limit` most-recent events. Returns one row per flagged event
    * with its reasons — top-k recency select is a TakeOrderedAndProject,
    * no full sort at scale. event_id desc tie-breaks equal timestamps so
    * the window is deterministic (the reference orders by ts alone). */
  def metricAnomalies(events: DataFrame, limit: Int = 500,
      zThreshold: Double = 2.5): DataFrame =
    AnomalyGate.anomalies(
      events.orderBy(col("ts").desc, col("event_id").desc).limit(limit),
      zThreshold)

  /** The reference's metric_anomalies summary dict as one row: detected /
    * total_events / anomalies_detected / by_method counts / a sample of
    * the 10 most-recent flagged events (detectors.py:380-394). by_method
    * mirrors MetricAnomalyDetector.stats (anomaly_detector.py:50-57):
    * z_score and threshold count per-(event, metric) flags;
    * interesting_event counts window events of an interesting type. */
  def metricAnomalySummary(events: DataFrame, limit: Int = 500,
      zThreshold: Double = 2.5): DataFrame = {
    val recent = events.orderBy(col("ts").desc, col("event_id").desc)
      .limit(limit)
    val flagged = metricAnomalies(events, limit, zThreshold)
    val windowCounts = recent.agg(
      count(lit(1)).as("total_events"),
      count(when(col("event").isin(
        AnomalyGate.InterestingEvents.map(lit): _*), 1))
        .as("by_interesting_event"))
    // flagged is bounded by `limit`, so collecting its reason flags and
    // sample structs into one row is O(limit), not O(corpus)
    val flaggedAgg = flagged.agg(
      count(lit(1)).as("anomalies_detected"),
      coalesce(sum(size(filter(col("reasons"),
        r => r.startsWith("z_score_anomaly_")))), lit(0L)).as("by_z_score"),
      coalesce(sum(size(filter(col("reasons"),
        r => r.startsWith("threshold_violation_")))), lit(0L))
        .as("by_threshold"),
      slice(reverse(sort_array(collect_list(struct(col("ts"),
        col("event_id"), col("event"), col("severity"), col("role"),
        col("reasons"))))), 1, 10).as("sample"))
    windowCounts.crossJoin(flaggedAgg)
      .select(
        (col("anomalies_detected") > 0).as("detected"),
        col("total_events"), col("anomalies_detected"),
        col("by_z_score"), col("by_threshold"), col("by_interesting_event"),
        col("sample"))
  }

  /** zscore_hotspots (detectors.py:234-285): buckets whose event count is
    * min_z sample-stddevs above the mean bucket count. */
  def zscoreHotspots(events: DataFrame, bucketSeconds: Int = 300,
      minZ: Double = 2.0, limit: Int = 20): DataFrame = {
    val bucketed = events.filter(col("ts").isNotNull)
      .groupBy(GlobalScanner.bucket(col("ts"), bucketSeconds).as("bucket"))
      .agg(count(lit(1)).as("cnt"), max(col("severity")).as("max_sev"))
    val stats = bucketed.agg(
      avg(col("cnt")).as("mean_cnt"),
      stddev_samp(col("cnt")).as("std_cnt"))
    bucketed.crossJoin(broadcast(stats))
      .filter(col("std_cnt").isNotNull && col("std_cnt") > 0)
      .withColumn("zscore", (col("cnt") - col("mean_cnt")) / col("std_cnt"))
      .filter(col("zscore") >= minZ)
      .select("bucket", "cnt", "max_sev", "zscore")
      .orderBy(col("zscore").desc, col("bucket"))
      .limit(limit)
  }

  /** baseline_window_anomalies (detectors.py:288-352): per-bucket metric
    * means vs the baseline table, z ≥ threshold, cnt ≥ minSamples. The
    * baselines are read once, through [[lookupBaseline]]. */
  def baselineWindowAnomalies(metrics: DataFrame, baselines: DataFrame,
      bucketSeconds: Int = 30, zThreshold: Double = 3.0,
      minSamples: Int = 3,
      metricNames: Seq[String] = Seq("VersionLag", "DurabilityLag",
        "BytesInput", "WorstStorageServerQueue",
        "WorstStorageServerDurabilityLag")): DataFrame = {
    val bucketed = metrics
      .filter(col("metric_name").isin(metricNames.map(lit): _*) &&
        !isnan(col("metric_value")) &&
        !col("metric_value").isin(
          Double.PositiveInfinity, Double.NegativeInfinity) &&
        col("ts").isNotNull)
      .groupBy(GlobalScanner.bucket(col("ts"), bucketSeconds).as("bucket"),
        coalesce(col("role"), lit("ALL")).as("role"), col("metric_name"))
      // exactMean, not avg: bucket means stay bit-identical across
      // engines/partitionings (same rationale as rollups/baselines)
      .agg(DerivedTables.exactMean(col("metric_value")).as("mean_val"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minSamples)
    lookupBaseline(bucketed,
        baselines.filter(col("metric_name").isin(metricNames.map(lit): _*)),
        role => struct(col("metric_name"), role.as("role")))
      .withColumnRenamed("b_mean", "base_mean")
      .withColumnRenamed("b_std", "base_std")
      .withColumn("zscore",
        when(col("base_std").isNotNull && col("base_std") > 0,
          abs((col("mean_val") - col("base_mean")) / col("base_std"))))
      .filter(col("zscore").isNotNull && col("zscore") >= zThreshold)
      .select("bucket", "role", "metric_name", "mean_val",
        "base_mean", "base_std", "zscore", "cnt")
      .orderBy("bucket", "role", "metric_name")
  }
}
