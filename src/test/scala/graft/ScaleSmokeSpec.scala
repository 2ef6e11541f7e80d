package graft

import org.apache.spark.sql.functions._

import graft.trace._

/** Multi-file rollover ingest (S6) + full pipeline at ~96k events across
  * 30 files — validates glob loading, id uniqueness without a global
  * shuffle, and that the detector battery stays distributed at volume.
  * Input is generated by dev tooling into /tmp/graft_scale (XML fixture
  * replicated with shifted timestamps); the spec self-cancels if absent.
  */
class ScaleSmokeSpec extends SparkSpec {

  private val dir = "/tmp/graft_scale/logs"

  private def available: Boolean = new java.io.File(dir).isDirectory

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    info(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
  }

  test("multi-file rollover glob: unique ids, all files ingested") {
    assume(available)
    val events = TraceEvents.load(spark, s"$dir/*.xml").cache()
    val n = events.count()
    assert(n === 95700L)
    assert(events.select("event_id").distinct().count() === n)
    assert(events.select("src_file").distinct().count() === 30)
    // ids ascend with file order within each file (no global sort needed)
    val perFile = events.groupBy("src_file")
      .agg(min("event_id").as("lo"), max("event_id").as("hi"),
        count(lit(1)).as("n"))
    assert(perFile.filter(col("hi") - col("lo") < col("n") - 1).count() === 0)
  }

  test("stable ids order files by name, not by Spark's split packing") {
    assume(available)
    val events = TraceEvents.load(spark, s"$dir/*.xml", stableIds = true)
    val ranges = events.groupBy("src_file")
      .agg(min("event_id").as("lo"), max("event_id").as("hi"),
        count(lit(1)).as("n"))
      .orderBy("src_file").collect()
    // contiguous 1-based ids, file ranges non-overlapping in name order
    assert(ranges.head.getAs[Long]("lo") === 1L)
    ranges.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("lo") === a.getAs[Long]("hi") + 1,
          s"${a.getAs[String]("src_file")} → ${b.getAs[String]("src_file")}")
      case _ =>
    }
  }

  test("text analysis at sf1-equivalent volume: one scan, no collects") {
    import graft.trace.Chunker
    val docs0 = Tables(spark, "/root/testdata/sf0.1", "documents")
    val docs = (0 until 25).map(k => docs0.select(
        (col("doc_id") + lit(k * 1000000L)).as("doc_id"),
        col("text")))
      .reduce(_ unionAll _).cache()
    assert(docs.count() === 125000L)

    // recursive 500/100 splitter as a distributed explode — pieces stay
    // bounded by size and every doc's text is covered
    val pieces = Chunker.splitChunks(
      docs.select(col("doc_id").as("chunk_id"),
        lit(0L).as("start_event_id"), lit(0L).as("end_event_id"),
        lit("doc").as("chunk_type"), col("text").as("chunk_content")))
    val stats = timed("splitText 500/100 @125k docs")(
      pieces.agg(count(lit(1)).as("n"), max(length(col("content"))).as("mx"))
        .first())
    assert(stats.getAs[Long]("n") >= 125000L)
    assert(stats.getAs[Int]("mx") <= 500)
    docs.unpersist()
  }

  test("pipeline at volume: derives + detectors complete") {
    assume(available)
    val t0 = System.nanoTime()
    val events = TraceEvents.load(spark, s"$dir/*.xml").cache()
    events.count()
    val metrics = DerivedTables.eventMetrics(events).cache()
    val baselines = DerivedTables.metricBaselines(metrics, minCount = 20)
    assert(baselines.count() > 0)
    assert(DerivedTables.rollups(metrics, 60).count() > 0)
    assert(DerivedTables.eventsWide(events).count() === 95700L)
    val episodes = GlobalScanner.recoveryEpisodes(events)
    assert(episodes.count() > 0)
    val hotspots = Detectors.zscoreHotspots(events, bucketSeconds = 300,
      minZ = 0.0, limit = 50)
    assert(hotspots.count() > 0)
    val gate = AnomalyGate.anomalies(events)
    assert(gate.count() >= 0)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"96k-event pipeline wall time: $secs%.1f s")
    assert(secs < 120, s"pipeline too slow at 96k events: $secs s")
  }

  test("streaming rollup at 1M events: state stays bounded by the watermark") {
    // The continuous-ingest claim the batch twins can't make: run the
    // watermarked append-mode rollup over 1M ordered events spanning ~5.8k
    // windows and check the state store holds only the watermark horizon
    // (a few open windows x 8 keys), NOT the full window history — the
    // property that lets the stream run forever at 100 TB ingest.
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamingOps
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val roles = Array("SS", "TL", "CP", "MS")
    val metrics = Array("Lag", "Queue")
    val base = Timestamp.valueOf("2025-01-01 00:00:00").getTime
    val n = 1000000
    val input = MemoryStream[(Timestamp, String, String, Double)]
    val df = input.toDF().toDF("ts", "role", "metric_name", "metric_value")
    val q = StreamingOps.rollupStream(df, 60, watermark = "2 minutes")
      .writeStream.format("memory").queryName("rollup_volume")
      .outputMode(OutputMode.Append).start()
    timed("1M events through rollupStream (10 triggers)") {
      var maxState = 0L
      (0 until 10).foreach { b =>
        val batch = (0 until n / 10).map { j =>
          val i = b * (n / 10) + j
          // ~2.9 events/sec → ~5,760 one-minute windows over the run
          (new Timestamp(base + (i / 3) * 1000L), roles(i % 4),
            metrics((i / 4) % 2), (i % 100).toDouble)
        }
        input.addData(batch: _*)
        q.processAllAvailable()
        val st = q.lastProgress.stateOperators
        if (st.nonEmpty) maxState = math.max(maxState, st(0).numRowsTotal)
      }
      q.stop()
      val out = spark.table("rollup_volume")
      val closed = out.count()
      val windows = n / 3 / 60 // seconds of event time / window size
      // every window the watermark passed must have finalized...
      assert(closed >= (windows - 5).toLong * roles.length * metrics.length,
        s"only $closed closed windows for ~$windows expected")
      // ...and state never held more than the horizon (open windows x keys),
      // far below the ~46k total window-key groups the run produced
      assert(maxState > 0 && maxState <= 1000,
        s"state store grew past the watermark horizon: $maxState rows")
      info(s"closed window-groups: $closed; max state rows: $maxState")
    }
  }
}
