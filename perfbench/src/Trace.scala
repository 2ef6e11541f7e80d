package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkBus, SparkContext, TaskContext}
import org.apache.spark.scheduler._

import graft.ops.LlmBoundary

/** Benchmark-side tracing: spans around the calls into each pipeline
  * module, and one SparkListener that totals the Spark work of each span.
  *
  * A span named `layer` or `layer.part` sets the job group `pb:<name>` for
  * its body, so every job it launches is billed to it. Spans nest: a
  * layer's self time is its wall time minus the wall time of the spans of
  * other layers opened inside it. The listener is installed only in a
  * traced run; while `on` is false a span only runs its body.
  */
final class Tracer(sc: SparkContext, installed: Boolean) {

  @volatile var on = false

  /** Per-stage totals, keyed by stage id. */
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var maxTaskMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var resultBytes = 0L
    var inputBytes = 0L; var outputBytes = 0L
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStages = new ConcurrentHashMap[Int, (String, Seq[Int])]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobWallMs = new ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull
      if (g != null && g.startsWith("pb:")) {
        val name = g.stripPrefix("pb:")
        e.stageIds.foreach(s => stageGroup.put(s, name))
        jobStages.put(e.jobId, name -> e.stageIds)
        jobStart.put(e.jobId, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.get(e.jobId)).foreach(t0 =>
        jobWallMs.put(e.jobId, e.time - t0))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && stageGroup.containsKey(e.stageId)) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.resultBytes += m.resultSize
          a.inputBytes += m.inputMetrics.bytesRead
          a.outputBytes += m.outputMetrics.bytesWritten
        }
      }
  }
  if (installed) sc.addSparkListener(listener)

  private case class SpanRec(name: String, wallNs: Long, otherLayerNs: Long)
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  // (layer, ns of nested spans of other layers) for each open span
  private val open = new ThreadLocal[List[(String, AtomicLong)]] {
    override def initialValue(): List[(String, AtomicLong)] = Nil
  }

  def layerOf(name: String): String = name.takeWhile(_ != '.')

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val nested = new AtomicLong(0)
      val stack = open.get()
      open.set((layerOf(name), nested) :: stack)
      sc.setJobGroup(s"pb:$name", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        open.set(stack)
        if (prevGroup != null) sc.setJobGroup(prevGroup, prevDesc)
        else sc.clearJobGroup()
        stack.headOption.foreach { case (parentLayer, acc) =>
          if (parentLayer != layerOf(name)) acc.addAndGet(wall) }
        spans.synchronized { spans += SpanRec(name, wall, nested.get) }
      }
    }

  /** Forgets everything recorded so far (call between ops). */
  def reset(): Unit = if (installed) {
    SparkBus.drain(sc)
    stageGroup.clear(); jobStages.clear(); stages.clear()
    jobStart.clear(); jobWallMs.clear()
    spans.synchronized(spans.clear())
    TimedClient.reset()
  }

  /** Per-layer numbers for everything recorded since the last reset.
    * `cores` turns task time into utilisation. Keys are
    * `<layer>.<metric>`, plus `<span>.self_s` for each `layer.part` span. */
  def snapshot(cores: Int): Map[String, Double] = {
    SparkBus.drain(sc)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val recs = spans.synchronized(spans.toList)
    val llmStages = TimedClient.stages.keySet.asScala.toSet
    def groupOf(stage: Int): String =
      if (llmStages(stage)) "llm" else layerOf(stageGroup.get(stage))
    val layerWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val layerSelf = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    recs.foreach { r =>
      val l = layerOf(r.name)
      if (r.name.contains('.')) out(s"${r.name}.self_s") =
        out.getOrElse(s"${r.name}.self_s", 0.0) + r.wallNs / 1e9
      else {
        layerWall(l) += r.wallNs / 1e9
        layerSelf(l) += (r.wallNs - r.otherLayerNs) / 1e9
      }
    }
    val byStage = stages.asScala.toSeq
    val jobsBy = jobStages.asScala.toSeq.groupBy { case (_, (g, ss)) =>
      if (ss.exists(llmStages)) "llm" else layerOf(g) }
    // LLM time runs inside the rca span: the wrapper's time is the llm
    // layer's self time; its utilisation is over the jobs that carried it
    val llmS = TimedClient.nanos.get / 1e9
    if (TimedClient.calls.get > 0) {
      layerSelf("rca") -= llmS
      layerSelf("llm") += llmS
      layerWall("llm") += jobsBy.getOrElse("llm", Nil)
        .map { case (j, _) => jobWallMs.getOrDefault(j, 0L) }.sum / 1e3
      out("llm.calls") = TimedClient.calls.get.toDouble
      out("llm.prompt_bytes") = TimedClient.promptBytes.get.toDouble
    }
    (layerWall.keySet ++ jobsBy.keySet).foreach { l =>
      val mine = byStage.filter { case (s, _) => groupOf(s) == l }.map(_._2)
      val wall = layerWall(l)
      val run = mine.map(_.runMs).sum / 1e3
      out(s"$l.self_s") = layerSelf(l)
      out(s"$l.jobs") = jobsBy.get(l).map(_.size).getOrElse(0).toDouble
      out(s"$l.tasks") = mine.map(_.tasks).sum.toDouble
      out(s"$l.core_util") = if (wall > 0) run / (wall * cores) else 0.0
      out(s"$l.max_task_share") =
        if (wall > 0) mine.map(_.maxTaskMs).foldLeft(0L)(math.max) / 1e3 / wall
        else 0.0
      out(s"$l.shuffle_bytes") = mine.map(_.shuffleBytes).sum.toDouble
      out(s"$l.spill_bytes") = mine.map(_.spillBytes).sum.toDouble
      out(s"$l.result_bytes") = mine.map(_.resultBytes).sum.toDouble
      out(s"$l.input_bytes") = mine.map(_.inputBytes).sum.toDouble
      out(s"$l.output_bytes") = mine.map(_.outputBytes).sum.toDouble
      out(s"$l.wall_s") = wall
    }
    out.toMap
  }
}

/** The LLM boundary's timing wrapper: times each `complete` call of the
  * client handed to the RCA loop and remembers the stage it ran in, so the
  * listener bills that stage to the `llm` layer. Counters are JVM-wide
  * (the benchmark runs Spark in local mode). */
final class TimedClient(inner: LlmBoundary.LlmClient)
    extends LlmBoundary.LlmClient {
  def complete(prompts: Seq[String]): Seq[String] = {
    val t0 = System.nanoTime()
    try inner.complete(prompts)
    finally {
      TimedClient.nanos.addAndGet(System.nanoTime() - t0)
      TimedClient.calls.incrementAndGet()
      TimedClient.promptBytes.addAndGet(prompts.map(
        _.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum)
      Option(TaskContext.get()).foreach(tc =>
        TimedClient.stages.put(tc.stageId(), true))
    }
  }
}

object TimedClient {
  val nanos = new AtomicLong(0)
  val calls = new AtomicLong(0)
  val promptBytes = new AtomicLong(0)
  val stages = new ConcurrentHashMap[Int, Boolean]()
  def reset(): Unit = {
    nanos.set(0); calls.set(0); promptBytes.set(0); stages.clear()
  }
}
