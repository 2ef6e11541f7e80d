package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: UTC, AQE on, shuffle partitions matched to
  * local cores (not 200), nanos-as-long so the ns-precision events table
  * is readable (see Tables), and compiled-code reuse (see CodegenReuse). */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Entries in Spark's JVM-wide generated-class cache; Spark's default
    * is 100. Distinct classes compiled, measured with Spark 4.1 in
    * local[4] (a cache large enough to never evict, seed-1 corpora of the
    * trace benchmark):
    *   - one bulk op, raw logs to RCA report: 336; its maintenance pass
    *     (compaction, derived rebuild, other detectors, chunks): 78 more
    *   - one tail op (append, re-read, battery, gate): 104; its
    *     maintenance pass: 278 more
    *   - the sf0.1 `Bench` warm-up: 1,651, measured on the 184-query
    *     registry (since cut to 96 by dropping the multimodal,
    *     embedding/ANN and LLM-training-data families), with the 33
    *     queries whose reference fixtures were missing failing early
    * A JVM runs either a pipeline session or the Bench, so the Bench pass
    * is the largest working set; 4096 leaves room for the queries that
    * failed there and for the cache's per-segment eviction. At 100, every
    * warm op evicted and recompiled all of its classes (130–460 per op). */
  val CodegenCacheMaxEntries: Int = 4096

  /** The settings that let a warm JVM reuse compiled classes across
    * queries. The cache size is a static conf: the first session in a JVM
    * fixes it for every later one, so every session builder applies these.
    * With stage ids in class names, AQE's per-run renumbering gives
    * identical code a new name and so a cache miss. */
  val CodegenReuse: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheMaxEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  def build(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE re-optimize (and in particular COALESCE tiny shuffle
      // partitions in) plans under .cache()/persist too — off by
      // default, which leaves every cached-frame materialization at the
      // raw spark.sql.shuffle.partitions width no matter how small the
      // data (guide §2.2: fewer, larger partitions). Scale-adaptive by
      // construction: partition sizing still follows AQE's advisory
      // size, not any fixed local count.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(CodegenReuse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietUnpartitionedWindows()
    spark
  }

  /** ScanOps' guarded small-input fast path runs an unpartitioned window
    * on purpose; WindowExec's per-plan warning about it (hundreds per
    * pipeline op) would bury every other warning. The level is JVM-wide;
    * `build` and the test suites' shared session both set it here. */
  def quietUnpartitionedWindows(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
