package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's own calls into the program's
  * layers. Each span has a name, start, end and the span that caused
  * it (the innermost open span on the driver thread). Spans are kept
  * in memory and written out when the run ends. While `on` is false a
  * span runs its body and records nothing. */
final class Tracer {
  var on = false

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, name, t0, t1)
      }
    }

  /** Per span name: count, summed duration and summed self time (the
    * duration minus what its direct children cover), in seconds. */
  def summary: Seq[(String, Int, Double, Double)] =
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val ids = ss.map(_.id).toSet
      val total = ss.map(_.seconds).sum
      (name, ss.size, total, total - spans.filter(s => ids.contains(s.parent)).map(_.seconds).sum)
    }

  def writeJsonl(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Task, stage and query counters of the Spark work run between two
  * `snapshot()` calls. Registered by the benchmark only in traced
  * runs. */
final case class SparkSnapshot(
    jobs: Long, stages: Long, tasks: Long, cpuMs: Double, gcMs: Long,
    runMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, taskMsMaxOverMedian: Double, jobWallMs: Double,
    queries: Long, planningMs: Double) {
  def +(o: SparkSnapshot): SparkSnapshot = SparkSnapshot(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, cpuMs + o.cpuMs, gcMs + o.gcMs,
    runMs + o.runMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    math.max(taskMsMaxOverMedian, o.taskMsMaxOverMedian), jobWallMs + o.jobWallMs,
    queries + o.queries, planningMs + o.planningMs)
}

object SparkSnapshot {
  val zero: SparkSnapshot = SparkSnapshot(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

final class SparkStats extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, cpuNs, gcMs, runMs = 0L
  private var shRead, shWrite, spill, queries = 0L
  private var planningMs = 0.0
  private val durations = ArrayBuffer.empty[Long]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      runMs += m.executorRunTime
      shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Catalyst analysis + optimization + planning time of every action. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      queries += 1
      planningMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters since the previous snapshot; waits for the listener bus
    * to deliver every event first. */
  def snapshot(sc: SparkContext): SparkSnapshot = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      val sorted = durations.sorted
      val skew =
        if (sorted.isEmpty) 0.0
        else sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2)).toDouble
      val s = SparkSnapshot(jobs, stages, tasks, cpuNs / 1e6, gcMs, runMs, shRead,
        shWrite, spill, skew, unionMs(jobSpans.toSeq), queries, planningMs)
      jobs = 0; stages = 0; tasks = 0; cpuNs = 0; gcMs = 0; runMs = 0
      shRead = 0; shWrite = 0; spill = 0; queries = 0; planningMs = 0.0
      durations.clear(); jobSpans.clear()
      s
    }
  }

  /** Wall time covered by a set of possibly overlapping intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) {
        covered += b - math.max(a, end)
        end = b
      }
    }
    covered.toDouble
  }
}
