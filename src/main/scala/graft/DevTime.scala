package graft

/** Dev-only: bench-protocol timing for named registry queries (warm-up,
  * then N timed passes with full cache eviction between; min reported).
  * Usage: runMain graft.DevTime <sfDir> [--passes N] <name> [<name> ...]
  * All names are validated against the registry BEFORE the session does
  * any timed work, so a typo fails fast instead of after minutes of
  * passes over the earlier names. */
object DevTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    var passes = 3
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 1
    while (i < args.length) {
      if (args(i) == "--passes") {
        require(i + 1 < args.length, "--passes needs a value")
        passes =
          try args(i + 1).toInt
          catch { case _: NumberFormatException =>
            sys.error(s"--passes needs an integer, got '${args(i + 1)}'")
          }
        i += 2
      }
      else { names += args(i); i += 1 }
    }
    require(passes >= 1, s"--passes must be >= 1, got $passes")
    val unknown = names.filterNot(queries.Registry.byName.contains)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.mkString(", "))
    val spark = GraftSession.build("graft-dev-time")
    names.foreach { name =>
      val run = queries.Registry.byName(name).run
      run(spark, sfDir).queryExecution.toRdd.count(); Bench.reset(spark) // warm-up
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        run(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        Bench.reset(spark); dt
      }
      println(f"[devtime] $name min ${times.min}%.3f s (passes: ${times.map(t => f"$t%.3f").mkString(", ")})")
    }
    spark.stop()
  }
}
