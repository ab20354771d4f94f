package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Cluster work observed between two points: counts and summed task
  * metrics. Sizes are MiB, times seconds. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    inputRows: Long, resultMb: Double) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskS - o.taskS, shuffleReadMb - o.shuffleReadMb,
    shuffleWriteMb - o.shuffleWriteMb, spillMb - o.spillMb,
    inputRows - o.inputRows, resultMb - o.resultMb)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskS + o.taskS, shuffleReadMb + o.shuffleReadMb,
    shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb,
    inputRows + o.inputRows, resultMb + o.resultMb)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The benchmark's own SparkListener. Jobs and stages are counted when
  * they start, so an action that returns has all of its starts posted;
  * task metrics arrive before the job's waiter is released. */
final class Counters extends SparkListener {
  private val MiB = 1024.0 * 1024.0
  private val jobs, stages, tasks, taskMs, shufRead, shufWrite, spill,
    inputRows, result, peakMem = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      result.addAndGet(m.resultSize)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  /** Current totals, after every event posted so far has been handled. */
  def snap(sc: SparkContext): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Counts(jobs.get, stages.get, tasks.get, taskMs.get / 1000.0,
      shufRead.get / MiB, shufWrite.get / MiB, spill.get / MiB,
      inputRows.get, result.get / MiB)
  }

  /** Largest per-task peak execution memory since the last call, MiB,
    * after every event posted so far has been handled. */
  def takePeakMb(sc: SparkContext): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    peakMem.getAndSet(0L) / MiB
  }
}

/** One traced interval: name, start, end, the enclosing span (-1 at the
  * top) and the run it belongs to, plus the cluster work inside it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counts: Counts, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out when the run ends.
  * Listener snapshots are taken outside the timed interval, so the
  * wait for the listener bus is not charged to any span. */
final class Tracer(val runId: String, sc: SparkContext, counters: Counters) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = spans.length
    spans += null // reserve the id so children can name their parent
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val c0 = counters.snap(sc)
    val t0 = System.nanoTime()
    try {
      val out = body
      val t1 = System.nanoTime()
      val c1 = counters.snap(sc)
      val s = Span(id, parent, name, t0, t1, c1 - c0, Map.empty)
      spans(id) = s
      (out, s)
    } finally {
      open = open.tail
      if (spans(id) == null) spans(id) = Span(id, parent, name + ".failed", t0,
        System.nanoTime(), Counts.zero, Map.empty)
    }
  }

  /** Attach extra per-span numbers (e.g. Catalyst phase times). */
  def annotate(s: Span, attrs: Map[String, Double]): Unit =
    spans(s.id) = spans(s.id).copy(attrs = spans(s.id).attrs ++ attrs)

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    Harness.toJson(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "jobs" -> s.counts.jobs, "tasks" -> s.counts.tasks,
      "task_s" -> s.counts.taskS) ++ s.attrs)
  }
}
