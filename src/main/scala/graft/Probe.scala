package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query wall time, layer split and physical plan of registered
  * queries, on the [[Harness]] session.
  *
  * Each query gets one untimed run, then three timed runs. A run is the
  * query-function call plus a `noop` write, and every run is followed by
  * `CacheScope.drain()`, so each timed run starts from the same cache
  * state. One line per query: the median, min and max wall time, and
  * from the median run
  *  - `build`: the query-function call, i.e. the eager jobs that run
  *    while the DataFrame is built;
  *  - `plan`: the Catalyst phases of the write's own `QueryExecution`;
  *  - jobs, stages, tasks, summed task time and shuffle MiB, counted
  *    over the whole run.
  * `--explain <dir>` also writes `<dir>/<query>.txt`, the formatted
  * physical plan of the untimed run.
  *
  * Usage: `runMain graft.Probe <sfDir> [--explain <dir>] <query...>`
  */
object Probe {

  private val MarkerKey = "graft.probe.marker"

  private final case class Run(wallS: Double, buildS: Double, planS: Double,
      jobs: Long, stages: Long, tasks: Long, taskS: Double, readMib: Double,
      writeMib: Double)

  /** Cluster work of the session's jobs, and the last finished query's
    * `QueryExecution`. Both are registered on the listener bus's shared
    * queue, so every callback sees events in posting order. */
  private final class Listener extends SparkListener with QueryExecutionListener {
    val jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite = new AtomicLong
    @volatile var lastQe: QueryExecution = _
    private val markerStages = collection.mutable.Set.empty[Int]
    private val markers = new Semaphore(0)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) {
        markerStages ++= e.stageIds
        markers.release()
      } else jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!markerStages(e.stageInfo.stageId)) stages.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!markerStages(e.stageId)) {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastQe = qe
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Returns once every event posted before the call has been handled:
      * a marker job's start is posted after them. The marker's own stage
      * and task are not counted. */
    def flush(sc: SparkContext): Unit = {
      sc.setLocalProperty(MarkerKey, "true")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      require(markers.tryAcquire(60, TimeUnit.SECONDS), "listener bus not flushed in 60 s")
    }

    def reset(): Unit = {
      Seq(jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite).foreach(_.set(0L))
      lastQe = null
    }
  }

  /** The query's line; with `explainDir`, also writes its plan there. */
  def probe(spark: SparkSession, sfDir: String, name: String,
      explainDir: Option[String]): String = {
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val l = new Listener
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    def once(): Run = {
      l.flush(sc)
      l.reset()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      l.flush(sc)
      require(l.lastQe != null, s"$name: no QueryExecution seen for the write")
      val planMs = l.lastQe.tracker.phases.values.map(_.durationMs).sum
      val MiB = 1024.0 * 1024.0
      val run = Run((t2 - t0) / 1e9, (t1 - t0) / 1e9, planMs / 1000.0, l.jobs.get,
        l.stages.get, l.tasks.get, l.taskMs.get / 1000.0,
        l.shuffleRead.get / MiB, l.shuffleWrite.get / MiB)
      CacheScope.drain()
      run
    }
    try {
      once()
      explainDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, s"$name.txt"),
          l.lastQe.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
      }
      val runs = Seq.fill(3)(once()).sortBy(_.wallS)
      val r = runs(1)
      f"$name%s median=${r.wallS}%.2fs min=${runs.head.wallS}%.2fs " +
        f"max=${runs.last.wallS}%.2fs build=${r.buildS}%.2fs plan=${r.planS}%.2fs " +
        f"jobs=${r.jobs}%d stages=${r.stages}%d tasks=${r.tasks}%d " +
        f"task=${r.taskS}%.2fs shuffle_read=${r.readMib}%.1fMiB " +
        f"shuffle_write=${r.writeMib}%.1fMiB"
    } finally {
      spark.listenerManager.unregister(l)
      sc.removeSparkListener(l)
    }
  }

  def main(args: Array[String]): Unit = {
    val (explainDir, names) = args.toSeq.drop(1) match {
      case Seq("--explain", dir, rest @ _*) => (Some(dir), rest)
      case rest => (None, rest)
    }
    require(names.nonEmpty, "usage: graft.Probe <sfDir> [--explain <dir>] <query...>")
    val spark = Harness.session(Harness.cpus)
    names.foreach(name => println(probe(spark, args(0), name, explainDir)))
    spark.stop()
  }
}
