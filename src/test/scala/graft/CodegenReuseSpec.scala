package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.trace.{DerivedTables, Detectors}

/** A warm JVM reuses its compiled classes (GraftSession.CodegenReuse):
  * rerunning the detector battery and the anomaly gate after more
  * unrelated plans than Spark's default 100-entry class cache holds
  * compiles next to nothing. */
class CodegenReuseSpec extends SparkSpec {

  import spark.implicits._

  test("battery and gate rerun without recompiling after 120 unrelated plans") {
    val events = (1L to 40L).map { i =>
      val event =
        if (i % 10 == 0) "MasterRecoveryState"
        else if (i % 7 == 0) "TLogFailed" else "StorageMetrics"
      val lag = if (i == 33L) "90000" else (1000 + i * 10).toString
      (i, f"2025-01-01 00:${i / 60}%02d:${i % 60}%02d", event, 10 + (i % 3) * 10,
        Map("VersionLag" -> lag, "QueryQueue" -> (i % 5).toString))
    }.toDF("event_id", "tss", "event", "severity", "fields")
      .withColumn("ts", to_timestamp(col("tss")))
      .withColumn("role", when(col("event_id") % 2 === 0, lit("storage")))
      .drop("tss")
      .cache()
    def analyze(): Unit = {
      val baselines = DerivedTables.metricBaselines(
        DerivedTables.eventMetrics(events), minCount = 3)
      val battery = Detectors.battery(events, baselines).collect()
      assert(battery.length === 6)
      Detectors.metricAnomalySummary(events).collect()
    }
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    analyze()
    val before = compiled
    // each literal is inlined into its stage's code: one new class per plan
    (1 to 120).foreach { i =>
      spark.range(4).select((col("id") * i + i).as("x")).collect()
    }
    val afterUnrelated = compiled
    assert(afterUnrelated - before >= 100,
      "the unrelated plans must outnumber Spark's default class cache")
    analyze()
    val recompiled = compiled - afterUnrelated
    assert(recompiled <= 2,
      s"the warm rerun compiled $recompiled classes; expected ~0")
    events.unpersist()
  }
}
