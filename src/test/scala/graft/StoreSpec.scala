package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Store

/** Partitioned layout: date-range predicates prune partitions at the
  * scan (the Spark stand-in for the reference's ts index). */
class StoreSpec extends SparkSpec {

  import spark.implicits._

  test("events store partition-prunes time-range queries") {
    val dir = Files.createTempDirectory("graft-store").toString + "/events"
    val events = Tables(spark, SfDir, "events")
    Store.writeEvents(events, dir)

    val stored = Store.readEvents(spark, dir)
    assert(stored.count() === events.count())

    val ranged = stored.filter(
      col("event_date") === "2024-01-05")
    ranged.collect()
    assert(Store.prunes(ranged), "date filter should reach PartitionFilters")
    // pruned read touches a strict subset of files
    val allFiles = stored.select(input_file_name()).distinct().count()
    val rangedFiles = ranged.select(input_file_name()).distinct().count()
    assert(rangedFiles < allFiles)

    // ts predicates still work (row-group stats within partitions)
    val narrow = stored.filter(col("ts") >= "2024-01-05 00:00:00" &&
      col("ts") < "2024-01-05 06:00:00")
    assert(narrow.count() > 0)
    assert(narrow.count() < ranged.count())
  }

  test("compaction merges streaming-append small files, preserving content " +
      "and pruning") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/events"
    val events = Tables(spark, SfDir, "events").cache()
    // simulate the streaming ingest's per-micro-batch appends: 6 slices
    // written separately → one file set per append per touched date
    val sliced = events.withColumn("__s", pmod(col("event_id"), lit(6)))
    (0 until 6).foreach { s =>
      Store.writeEvents(sliced.filter(col("__s") === s).drop("__s"), dir,
        mode = if (s == 0) "overwrite" else "append")
    }
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.drop("event_date").collect()
        .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val before = canon(Store.readEvents(spark, dir))

    val (nBefore, nAfter) = Store.compactEvents(spark, dir)
    assert(nBefore > nAfter,
      s"expected fewer files after compaction ($nBefore -> $nAfter)")
    // one writer task per date partition → exactly one file per partition
    // (counted in the version dir the _current pointer names)
    val partitions = Option(
      new java.io.File(Store.currentDataDir(dir)).listFiles()).get
      .count(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(nAfter === partitions)

    val after = Store.readEvents(spark, dir)
    assert(canon(after) === before, "compaction must not change content")
    val ranged = after.filter(col("event_date") === "2024-01-05")
    ranged.collect()
    assert(Store.prunes(ranged), "compacted store must still prune")
    events.unpersist()
  }

  test("readers run uninterrupted through compaction swaps") {
    // The reader-safety contract: the _current pointer flip is one
    // atomic rename and the previous version survives until the NEXT
    // compaction, so a reader that resolved the old pointer finishes
    // intact. A reader thread hammers the store while three compactions
    // (including the flat→versioned migration) swap under it.
    val dir = Files.createTempDirectory("graft-swap").toString + "/events"
    val events = Tables(spark, SfDir, "events")
    Store.writeEvents(events, dir)
    val expected = events.count()
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val counts = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() => {
      while (!stop) {
        try {
          assert(Store.readEvents(spark, dir).count() === expected)
          counts.incrementAndGet()
        } catch { case t: Throwable => failures.add(t); stop = true }
      }
    })
    reader.start()
    try {
      (1 to 3).foreach { _ =>
        val (_, after) = Store.compactEvents(spark, dir)
        assert(after > 0)
      }
    } finally { stop = true; reader.join(30000) }
    assert(failures.isEmpty,
      s"reader failed during swap: ${Option(failures.peek()).map(_.toString)}")
    assert(counts.get() > 0, "reader must have completed scans during swaps")
    // retention: exactly the live version and its predecessor remain
    val versions = Option(new java.io.File(dir).listFiles()).get
      .filter(_.getName.startsWith("_v-"))
    assert(versions.length === 2)
    // content still intact and pruning still engages after the swaps
    assert(Store.readEvents(spark, dir).count() === expected)
  }

  test("a failed pointer flip rolls the compaction back cleanly") {
    val dir = Files.createTempDirectory("graft-rollback").toString + "/events"
    Store.writeEvents(Tables(spark, SfDir, "events"), dir)
    val before = Store.readEvents(spark, dir).count()
    // poison the flip: a NON-EMPTY DIRECTORY at the _current path cannot
    // be atomically replaced by the pointer file, so the rename throws
    // AFTER the new version was fully written — the rollback must remove
    // that version and leave the store exactly as it was
    val d = new java.io.File(dir)
    val poison = new java.io.File(d, "_current")
    assert(poison.mkdir())
    Files.writeString(new java.io.File(poison, "x").toPath, "x")
    try intercept[Throwable] { Store.compactEvents(spark, dir) }
    finally {
      new java.io.File(poison, "x").delete()
      poison.delete()
    }
    // rollback: no version dirs, no tmp litter, flat content unchanged
    assert(Option(d.listFiles()).get.forall(f =>
      !f.getName.startsWith("_v-") && !f.getName.startsWith("_tmp-") &&
        !f.getName.endsWith(".tmp")),
      "failed flip must leave neither version dirs nor tmp litter")
    assert(Store.currentDataDir(dir) === dir)
    assert(Store.readEvents(spark, dir).count() === before)
  }

  test("appends racing a compaction fail LOUDLY, never silently drop") {
    val dir = Files.createTempDirectory("graft-lock").toString + "/events"
    val events = Tables(spark, SfDir, "events").limit(50).cache()
    Store.writeEvents(events, dir)
    val before = Store.readEvents(spark, dir).count()
    // a compactor holds _writer.lock for its whole window — simulate
    // one mid-window and assert the racing append refuses to start
    // (the old behavior wrote into the doomed version and the rows
    // vanished at the pointer flip with no signal)
    val lock = new java.io.File(dir, "_writer.lock")
    Files.writeString(lock.toPath, "compaction started <test>")
    val e = intercept[java.io.IOException] {
      Store.writeEvents(events, dir, mode = "append")
    }
    assert(e.getMessage.contains("being compacted"))
    assert(Store.readEvents(spark, dir).count() === before,
      "refused append must not have written anything")
    // a second compactor must refuse the held lock too
    val e2 = intercept[java.io.IOException] { Store.compactEvents(spark, dir) }
    assert(e2.getMessage.contains("another compaction"))
    // lock released → both proceed, and the lock does not outlive the run
    assert(lock.delete())
    Store.writeEvents(events, dir, mode = "append")
    assert(Store.readEvents(spark, dir).count() === before * 2)
    Store.compactEvents(spark, dir)
    assert(!lock.isFile, "compaction must release _writer.lock")
    assert(Store.readEvents(spark, dir).count() === before * 2)
    events.unpersist()
  }

  test("bucketed tables join with zero shuffle exchanges") {
    // managed tables land in the default warehouse dir; drop leftovers
    // from any prior aborted run before writing, and again at the end
    def cleanup(): Unit = Seq("orders_b", "lineitem_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), tbl)
      if (loc.exists())
        scala.reflect.io.Directory(loc).deleteRecursively()
    }
    cleanup()
    val orders = Tables(spark, SfDir, "orders")
    val lineitem = Tables(spark, SfDir, "lineitem")
    Store.writeBucketed(orders, "orders_b", "o_orderkey", 8)
    Store.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 8)
    // broadcast suppressed so the co-located sort-merge path is exercised
    val joined = spark.table("orders_b").hint("merge")
      .join(spark.table("lineitem_b"), "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val baseline = orders.hint("merge")
      .join(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    joined.collect()
    baseline.collect()
    val bucketedShuffles = Store.shuffleExchanges(joined)
    val plainShuffles = Store.shuffleExchanges(baseline)
    assert(bucketedShuffles < plainShuffles,
      s"bucketed=$bucketedShuffles plain=$plainShuffles")
    // the join itself is exchange-free: only the final groupBy shuffles
    assert(bucketedShuffles <= 1)
    // same answer either way
    assert(joined.collect().map(_.toSeq).toSet ===
      baseline.collect().map(_.toSeq).toSet)
    cleanup()
  }

  test("driver contract: entry returns rows; every query has a runner") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.queries.nonEmpty)
    // every oracle key corresponds to a registered query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
