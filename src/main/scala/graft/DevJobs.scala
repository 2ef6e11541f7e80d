package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only: job/stage/task counts per registered query (bench protocol:
  * warm-up, then one counted pass with cache eviction before it). The
  * count separates BUILD (driver-side work while constructing the frame)
  * from RUN (the final action), so driver-round-trip waste is visible per
  * query.
  * Usage: runMain graft.DevJobs <sfDir> <name> [<name> ...] */
object DevJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.build("graft-dev-jobs")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    def snap(): (Int, Int, Int) = (jobs.get, stages.get, tasks.get)
    names.foreach { name =>
      val run = queries.Registry.byName(name).run
      run(spark, sfDir).queryExecution.toRdd.count(); Bench.reset(spark) // warm-up
      Thread.sleep(150) // let listener events drain
      val (j0, s0, t0) = snap()
      val t0n = System.nanoTime()
      val df = run(spark, sfDir)
      Thread.sleep(150) // let listener events drain
      val (j1, s1, t1) = snap()
      val tBuild = (System.nanoTime() - t0n) / 1e9
      df.queryExecution.toRdd.count()
      Thread.sleep(150) // let listener events drain
      val (j2, s2, t2) = snap()
      val tAll = (System.nanoTime() - t0n) / 1e9
      println(f"[devjobs] $name build: ${j1 - j0}%3d jobs ${s1 - s0}%3d stages ${t1 - t0}%5d tasks $tBuild%6.2f s | run: ${j2 - j1}%3d jobs ${s2 - s1}%3d stages ${t2 - t1}%5d tasks | total $tAll%6.2f s")
      Bench.reset(spark)
    }
    spark.stop()
  }
}
