package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans and counters recorded around the benchmark's own calls into the
  * engine's modules. Kept in memory and written out once, with the result.
  * With tracing off, `span` only runs its body and the counters stay empty,
  * so the untraced run pays nothing but a branch.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = -1
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(name, open, System.nanoTime(), 0L)
      val parent = open
      open = id
      try body
      finally { spans(id).end = System.nanoTime(); open = parent }
    }

  /** A span whose bounds were observed elsewhere (engine progress callbacks). */
  def interval(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans += Span(name, open, startNs, endNs)

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v
  def set(name: String, v: Double): Unit = if (enabled) counters(name) = v
  def max(name: String, v: Double): Unit =
    if (enabled) counters(name) = math.max(counters.getOrElse(name, v), v)
  def sample(name: String, v: Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Per span name: count, total seconds, and self seconds (the span's time
    * minus the part its direct children cover).
    */
  def spanSummary: Map[String, Map[String, Double]] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.zipWithIndex.groupBy(_._1.name).map { case (name, ss) =>
      val total = ss.map { case (s, _) => s.end - s.start }.sum
      val self = ss.map { case (s, i) => s.end - s.start - childNs(i) }.sum
      name -> Map("count" -> ss.size.toDouble, "total_s" -> total / 1e9,
        "self_s" -> self / 1e9)
    }
  }
}

object Trace {
  private final case class Span(name: String, parent: Int, start: Long, var end: Long)
}

/** Job, stage and task counts for the Spark execution layer, over the
  * windows passed to [[measure]] only: listener events arrive on Spark's bus
  * thread, so each window opens and closes on a drained bus.
  */
final class SparkStats(sc: org.apache.spark.SparkContext) extends SparkListener {
  @volatile private var active = false
  private var wallNs = 0L
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskBusyMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def measure[T](body: => T): T = {
    org.apache.spark.BusDrain(sc)
    active = true
    val t0 = System.nanoTime()
    try body
    finally {
      wallNs += System.nanoTime() - t0
      org.apache.spark.BusDrain(sc)
      active = false
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    tasks += 1
    val ms = e.taskInfo.duration
    taskBusyMs += ms
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty) += ms
    Option(e.taskMetrics).foreach { m =>
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Median over stages (with at least two tasks) of max task time over
    * median task time.
    */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
  }

  /** The execution-layer counters over the measured windows, on `cores`
    * cores.
    */
  def summary(cores: Int): Map[String, Double] = {
    val wallS = wallNs / 1e9
    Map(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.task_busy_s" -> taskBusyMs / 1e3,
    "spark.core_util" -> taskBusyMs / 1e3 / math.max(1e-9, wallS * cores),
    "spark.task_skew" -> taskSkew,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble)
  }
}
