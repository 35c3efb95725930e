package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call from the benchmark into a layer of the program. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest through a stack (the client is
  * single-threaded); `enabled = false` makes `span` a plain call, which
  * is how untraced ops run. Spans are written out once, at the end. */
final class Tracer {
  var enabled = false
  var op: Int = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Duration of the named spans of one op, summed; None if absent. */
  def total(op: Int, name: String): Option[Double] = {
    val s = spans.iterator.filter(sp => sp.op == op && sp.name == name).toSeq
    if (s.isEmpty) None else Some(s.map(_.ms).sum)
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark execution by op: jobs are tagged with the op id and phase
  * through local properties, stages and tasks inherit the job's tag. */
final class ExecListener extends SparkListener {
  final class Job(val op: Int, val phase: String, val start: Long) { var end: Long = -1 }
  final class Stage(val op: Int) {
    val taskMs = mutable.ArrayBuffer[Long]()
    var cpuNs, shuffleRead, shuffleWrite, spill, output = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(ExecListener.OpKey))).map(_.toInt).getOrElse(-1)
    val phase = props.flatMap(p => Option(p.getProperty(ExecListener.PhaseKey))).getOrElse("")
    jobs(e.jobId) = new Job(op, phase, e.time)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(op)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.output += m.outputMetrics.bytesWritten
    }
  }

  /** Execution metrics of one op whose wall interval is [startMs, endMs]. */
  def opMetrics(op: Int, startMs: Long, endMs: Long): Map[String, Double] = synchronized {
    val js = jobs.values.filter(_.op == op).toSeq
    val ss = stages.values.filter(_.op == op).toSeq
    val tasks = ss.flatMap(_.taskMs)
    val mb = 1024.0 * 1024.0
    // wall time of the op during which no job of it was running
    val busy = js.map(j => (j.start max startMs, (if (j.end < 0) endMs else j.end) min endMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    busy.foreach { case (a, b) =>
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    val skews = ss.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }
    val lastJobEnd = js.map(_.end).filter(_ > 0).foldLeft(startMs)(_ max _)
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_ms" -> tasks.sum.toDouble,
      "exec.task_cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
      "exec.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> ss.map(_.spill).sum / mb,
      "exec.output_mb" -> ss.map(_.output).sum / mb,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "exec.driver_only_ms" -> ((endMs - startMs) - covered).toDouble,
      "exec.last_job_end_ms" -> lastJobEnd.toDouble)
  }

  def jobCount(op: Int, phase: String): Int = synchronized {
    jobs.values.count(j => j.op == op && j.phase == phase)
  }
}

object ExecListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  def tag(sc: SparkContext, op: Int, phase: String): Unit = {
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, phase)
  }
}

/** JVM-wide counters read at op boundaries. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  def jitMs: Long = jit.getTotalCompilationTime
  def gcMs: Long = gcs.map(_.getCollectionTime.max(0L)).sum
  /** Heap in use right after the last collection, summed over pools. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
}
