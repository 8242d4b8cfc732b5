package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Millisecond clock with sub-millisecond resolution, on the same base
  * as the epoch times Spark stamps on its job and task events. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** One call into a layer: epoch milliseconds, and the id of the span
  * that was open when it started (-1 at top level). */
final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double)

/** Spans around the benchmark's calls into each layer, kept in memory
  * until the run ends. Disabled, a span only runs its body. */
final class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  var enabled = false

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), Clock.nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      try body finally { s.end = Clock.nowMs; stack = stack.tail }
    }
}

final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
final case class Task(stage: Int, launch: Long, finish: Long, shuffleWrite: Long)

/** Records Spark jobs and tasks so they can be attributed to spans. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[Job]()
  val tasks = mutable.ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = Option(e.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, w)
  }
}

/** Per-span layer numbers: jobs whose submission falls inside a span
  * count for it (and for every span enclosing it). */
final class Attribution(tracer: Tracer, l: JobListener, cpus: Int) {
  private val stageJob: Map[Int, Int] = l.synchronized {
    l.jobs.sortBy(_.id).flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
  }
  private val tasksByJob: Map[Int, Seq[Task]] = l.synchronized {
    l.tasks.toSeq.groupBy(t => stageJob.getOrElse(t.stage, -1))
  }
  private val jobList = l.synchronized(l.jobs.toSeq)

  def jobsIn(s: Span): Seq[Job] =
    jobList.filter(j => j.start >= math.floor(s.start) && j.start <= s.end)

  def tasksOf(js: Seq[Job]): Seq[Task] = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))

  /** Length of the union of [a, b] intervals clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  final case class SpanStats(s: Double, jobs: Int, taskS: Double, gapS: Double, shuffleMb: Double)

  def stats(s: Span): SpanStats = {
    val js = jobsIn(s)
    val ts = tasksOf(js)
    val wall = (s.end - s.start) / 1000
    val busy = union(js.map(j => (j.start.toDouble,
      if (j.end < 0) s.end else j.end.toDouble)), s.start, s.end) / 1000
    SpanStats(wall, js.size, ts.map(t => t.finish - t.launch).sum / 1000.0,
      math.max(0.0, wall - busy), ts.map(_.shuffleWrite).sum / 1e6)
  }

  /** `<span>.s/.jobs/.task_s/.driver_gap_s/.slot_util/.shuffle_mb`,
    * summed over every occurrence of each span name. */
  def spanMetrics(names: Seq[String]): Map[String, Double] = names.flatMap { n =>
    val st = tracer.spans.filter(_.name == n).map(stats)
    val s = st.map(_.s).sum
    val task = st.map(_.taskS).sum
    Seq(s"$n.s" -> s, s"$n.jobs" -> st.map(_.jobs).sum.toDouble, s"$n.task_s" -> task,
      s"$n.driver_gap_s" -> st.map(_.gapS).sum,
      s"$n.slot_util" -> (if (s > 0) task / (cpus * s) else 0.0),
      s"$n.shuffle_mb" -> st.map(_.shuffleMb).sum)
  }.toMap

  /** Part of [lo, hi] (epoch ms) no top-level span covers, in seconds. */
  def uncovered(lo: Double, hi: Double): Double =
    ((hi - lo) - union(tracer.spans.toSeq.filter(_.parent < 0).map(s => (s.start, s.end)), lo, hi)) / 1000

  def writeJsonl(path: String): Unit = {
    val lines = tracer.spans.map { s =>
      val st = stats(s)
      s"""{"run":"${tracer.runId}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"jobs":${st.jobs},""" +
        f""""task_s":${st.taskS}%.4f,"driver_gap_s":${st.gapS}%.4f,"shuffle_mb":${st.shuffleMb}%.4f}"""
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.ListenerBus.drain(sc)
}
