package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PctSampleAgg
import graft.trace.DerivedTables

/** functions/PctSampleAgg — the bounded-state (bottom-k sample)
  * percentile that replaces exact `Percentile` on the 100-TB path.
  * Cross-engine value identity is proven by the ev_percentiles_approx
  * oracle; these cases pin the properties
  * that make it safe at scale: the sample IS the window-rule sample
  * (bit-for-bit), merge-order/partitioning invariance, the DKW rank
  * error envelope on real data, exactness below k, and the flat 24·k
  * buffer that is the whole point. */
class PctSampleSpec extends SparkSpec {
  import spark.implicits._

  private def events = spark.read
    .parquet("/root/testdata/sf0.01/events.parquet")
    .filter(col("value").isNotNull)

  private def sampleKey =
    concat(col("event_id").cast("string"), lit(":pct"))

  test("agg == window-rule sample + exact percentile, bit-for-bit") {
    val k = 100
    val agg = events
      .groupBy("event_type")
      .agg(PctSampleAgg.pctSample(sampleKey, col("value"),
        Seq(0.95, 0.5), k).as("ps"))
      .select(col("event_type"), element_at(col("ps"), 1).as("p95"),
        element_at(col("ps"), 2).as("p50"))
    val win = events
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(md5(sampleKey), col("value"))))
      .filter(col("rn") <= k)
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.95)).as("p95"),
        percentile(col("value"), lit(0.5)).as("p50"))
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
      "sampled percentile must equal the explicit window-sample form")
  }

  test("ev_mad_anomalies_approx == exact MAD when every group is under k") {
    // sf0.001 holds ≤ 210 non-null values per event_type — far under the
    // k=1024 sample bound, so BOTH sampled medians reduce to the exact
    // percentile and the registered approx query must equal the exact
    // one row-for-row (the A16 under-k contract, applied twice)
    val dir = "/root/testdata/sf0.001"
    val exact = graft.queries.Registry.byName("ev_mad_anomalies")
      .run(spark, dir)
    val approx = graft.queries.Registry.byName("ev_mad_anomalies_approx")
      .run(spark, dir)
    assert(exact.exceptAll(approx).isEmpty && approx.exceptAll(exact).isEmpty,
      "under-k groups must make the sampled MAD exact")
    assert(exact.count() > 0, "fixture must flag at least one anomaly")
  }

  test("partition invariance: 1, 4 and 64 partitions agree bit-for-bit") {
    def run(parts: Int) = events.repartition(parts)
      .groupBy("event_type")
      .agg(PctSampleAgg.pctSample(sampleKey, col("value"),
        Seq(0.95), 64).as("ps"))
      .select(col("event_type"), element_at(col("ps"), 1).as("p95"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val variants = Seq(1, 4, 64).map(run)
    assert(variants.distinct.size == 1,
      "sample membership must not depend on partitioning/merge order")
  }

  test("rank error of the k=1024 sample p95 obeys the DKW envelope") {
    // DKW: P(rank error > eps) <= 2 exp(-2 k eps^2); k=1024, eps=0.06
    // fails with probability < 2e-4 per group. Check the TRUE rank of
    // the sampled p95 against 0.95 on every sf0.1 event_type group.
    val k = 1024
    val ev01 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .filter(col("value").isNotNull)
    val approx = ev01.groupBy("event_type")
      .agg(element_at(PctSampleAgg.pctSample(sampleKey, col("value"),
        Seq(0.95), k), 1).as("p95s"))
    val ranks = ev01.join(approx, "event_type")
      .groupBy("event_type")
      .agg((count(when(col("value") <= col("p95s"), 1)).cast("double") /
        count(lit(1))).as("rank"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    ranks.foreach { case (t, rank) =>
      assert(math.abs(rank - 0.95) <= 0.06,
        s"$t: sampled p95 sits at true rank $rank (envelope 0.95 +/- 0.06)")
    }
  }

  test("groups smaller than k reduce to the exact percentile") {
    val small = events.limit(500)
    val a = small.agg(element_at(PctSampleAgg.pctSample(sampleKey,
      col("value"), Seq(0.9), 100000), 1)).head.getDouble(0)
    val e = small.agg(percentile(col("value"), lit(0.9))).head.getDouble(0)
    assert(a == e, s"below-k group must be exact: $a vs $e")
  }

  test("aggregation state is flat 24k+4 bytes no matter the input size") {
    // Drive update() directly: 200k rows through a k=1024 buffer must
    // serialize to exactly 4 + 24*1024 bytes — the bounded-state claim.
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{DoubleType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val agg = PctSampleAgg(BoundReference(0, StringType, nullable = true),
      BoundReference(1, DoubleType, nullable = true), Seq(0.95), 1024)
    var buf = agg.createAggregationBuffer()
    var i = 0
    while (i < 200000) {
      buf = agg.update(buf,
        InternalRow(UTF8String.fromString(s"row-$i"), i.toDouble))
      i += 1
    }
    assert(buf.heap.size() == 1024, "buffer must cap at k entries")
    assert(agg.serialize(buf).length == 4 + 24 * 1024,
      "serialized partial state must be exactly 4 + 24k bytes")
    // and the round trip preserves the sample
    val back = agg.deserialize(agg.serialize(buf))
    assert(agg.eval(back) == agg.eval(buf))
  }

  test("metricBaselines approx mode tracks the exact p95 inside DKW") {
    val metrics = events.select(
      col("event_id"), col("event_type").as("metric_name"),
      lit(null).cast("string").as("role"), col("ts"),
      col("value").as("metric_value"))
    val exact = DerivedTables.metricBaselines(metrics, minCount = 5)
      .select(col("metric_name"), col("p95").as("p95_exact"))
    val approx = DerivedTables.metricBaselines(metrics, minCount = 5,
      approxK = 1024)
      .select(col("metric_name"), col("p95").as("p95_approx"))
    // identical schema, identical group set
    assert(exact.count() == approx.count())
    val joined = exact.join(approx, "metric_name")
      .join(metrics.groupBy("metric_name")
        .agg(count(lit(1)).as("n")), "metric_name")
      .collect()
    joined.foreach { r =>
      val (ex, ap) = (r.getAs[Double]("p95_exact"), r.getAs[Double]("p95_approx"))
      // value-level check: the approx p95's true rank is within the
      // envelope; for sf0.01 groups the quantile spacing is coarse, so
      // assert via the rank of ap among the group's values instead of
      // a value epsilon (scale-free, distribution-free)
      val vals = metrics.filter(col("metric_name") === r.getAs[String]("metric_name"))
        .select("metric_value").collect().map(_.getDouble(0)).sorted
      val rank = vals.count(_ <= ap).toDouble / vals.length
      assert(math.abs(rank - 0.95) <= 0.06,
        s"${r.getAs[String]("metric_name")}: approx p95 $ap at rank $rank (exact $ex)")
    }
  }

  test("graft_kmv: exact under capacity, bounded estimate over it, " +
      "order/duplicate independent, flat state") {
    import spark.implicits._
    import graft.functions.KmvAgg
    def est(df: org.apache.spark.sql.DataFrame, k: Int = 256): Double =
      df.agg(KmvAgg.kmv(col("v"), k)).first().getDouble(0)
    // below capacity: EXACT distinct count, duplicates free
    val small = (1 to 100).map(i => s"val$i")
    assert(est(small.toDF("v")) === 100.0)
    assert(est((small ++ small ++ small).toDF("v")) === 100.0)
    // nulls don't count
    assert(est((small :+ null.asInstanceOf[String]).toDF("v")) === 100.0)
    // over capacity: estimate within 4 sigma (rse ~ 1/sqrt(k-2) = 6.3%)
    val big = (1 to 20000).map(i => s"item-$i").toDF("v")
    val e = est(big)
    assert(math.abs(e - 20000.0) <= 0.25 * 20000.0, s"est $e for 20000")
    // partitioning and duplication cannot move the sketch
    assert(est(big.repartition(13)) === e)
    assert(est(big.union(big).union(big)) === e)
    // flat state: serialized buffer never exceeds 4 + 16k bytes
    val agg = graft.functions.KmvAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 256)
    val buf = agg.createAggregationBuffer()
    (1 to 100000).foreach { i =>
      KmvAgg.ord // touch
      val md = java.security.MessageDigest.getInstance("MD5")
      buf.insert(md.digest(s"row$i".getBytes("UTF-8")))
    }
    assert(agg.serialize(buf).length <= 4 + 16 * 256)
    // the replay contract in-process: estimate == the SQL-shaped
    // derivation (distinct md5, sorted, k-th smallest, same arithmetic)
    val hx = big.select(md5(col("v")).as("d")).distinct()
      .orderBy("d").limit(256).collect().map(_.getString(0))
    val h60 = java.lang.Long.parseLong(hx.last.substring(0, 15), 16)
    val replay = 255.0 * math.pow(2.0, 60) / h60.toDouble
    assert(est(big) === replay)
  }

  test("pctSample and kmv register their functions once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.functions.KmvAgg
    val registry = spark.sessionState.functionRegistry
    def info(name: String) = registry.lookupFunction(FunctionIdentifier(name))
    PctSampleAgg.pctSample(sampleKey, col("value"), Seq(0.95), 16)
    KmvAgg.kmv(col("value"), 16)
    val pct = info("graft_pct_sample")
    val kmv = info("graft_kmv")
    assert(pct.isDefined && kmv.isDefined)
    // a second use must not re-create the temp function
    PctSampleAgg.pctSample(sampleKey, col("value"), Seq(0.95), 16)
    KmvAgg.kmv(col("value"), 16)
    assert(info("graft_pct_sample").get eq pct.get)
    assert(info("graft_kmv").get eq kmv.get)
  }
}
