package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One attempted operation. `output` names the Parquet result the
  * checker compares against the oracle; `error` is set when the
  * operation threw or its output failed an in-process check. */
final case class Op(name: String, phase: String, iter: Int,
    output: Option[String], error: Option[String])

/** Command-line settings, passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, cpus: Int)

/** State shared by the workloads of one benchmark process. */
final class Ctx(val args: Args) {
  var spark: SparkSession = _
  val ops = ArrayBuffer.empty[Op]
  val metrics = LinkedHashMap.empty[String, Double]
  val meta = LinkedHashMap.empty[String, Any]
  val counters = new Counters
  var tracer: Tracer = _

  def cpus: Int = args.cpus
  def out(rel: String): String = s"${args.out}/$rel"
  def fixtures: String = s"${args.data}/fixtures"
  def pcaInput: String = s"${args.data}/pca.parquet"

  /** Start tracing on the current session (trace runs only). */
  def startTracing(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    tracer = new Tracer(s"${args.workload}-${args.seed}-${System.currentTimeMillis()}",
      spark.sparkContext, counters)
  }

  /** Size of the workload's input files. */
  def inputMb: Double = {
    val root = new java.io.File(if (args.workload == "pca_wide") pcaInput else fixtures)
    val files = if (root.isDirectory) root.listFiles.toSeq else Seq(root)
    files.map(_.length).sum / (1024.0 * 1024.0)
  }

  /** Bytes of cached RDD blocks (memory + disk) the block manager holds. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

/** Benchmark process: builds the session the way the project's own
  * harnesses do, measures set-up, runs one workload and writes
  * `result.json` (and `spans.jsonl` when tracing) into the output dir.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <outDir> <cpus>
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val Array(w, seed, secs, trace, data, out, cpus) = argv
    val a = Args(w, seed.toLong, secs.toDouble, trace == "1", data, out,
      cpus.toInt)
    val ctx = new Ctx(a)
    val workload: Ctx => Unit = w match {
      case "pca_wide" => Pca.run
      case "ops_driver" => Ops.run(Ops.driverQueries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.meta("jvm_setup_s") = setup(ctx)
    if (a.trace) ctx.startTracing()
    workload(ctx)
    stamp(ctx)
    if (a.trace)
      writeText(ctx.out("spans.jsonl"), ctx.tracer.toJsonLines.mkString("", "\n", "\n"))
    writeText(ctx.out("result.json"), toJson(Map(
      "metrics" -> ctx.metrics,
      "ops" -> ctx.ops.map(o => Map("name" -> o.name, "phase" -> o.phase,
        "iter" -> o.iter, "output" -> o.output, "error" -> o.error)),
      "meta" -> ctx.meta)) + "\n")
    graft.SessionCaches.releaseAll()
    ctx.spark.stop()
  }

  def session(cpus: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()

  /** The process's one set-up: session up and the workload's inputs
    * scanned once, timed from JVM start, so class loading and one-time
    * initialisation count. */
  private def setup(ctx: Ctx): Double = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val sinceJvm = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    ctx.spark = session(ctx.cpus, ctx.out("spark-local"))
    ctx.spark.sparkContext.setLogLevel("ERROR")
    scanInputs(ctx)
    sinceJvm + (System.nanoTime() - t0) / 1e9
  }

  /** A plain read of every input the workload uses, through the
    * program's own table loaders for the fixtures. */
  def scanInputs(ctx: Ctx): Unit = {
    val spark = ctx.spark
    if (ctx.args.workload == "pca_wide")
      spark.read.parquet(ctx.pcaInput).write.format("noop").mode("overwrite").save()
    else graft.sources.Tables.names.foreach { t =>
      val df = if (t == "events") graft.sources.Tables.events(spark, ctx.fixtures)
               else graft.sources.Tables.load(spark, ctx.fixtures, t)
      df.write.format("noop").mode("overwrite").save()
    }
  }

  /** Run metadata that is not a metric. */
  private def stamp(ctx: Ctx): Unit = {
    val m = ctx.meta
    m("jvm") = s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"
    m("spark") = ctx.spark.version
    m("blas") = dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getName
    m("lapack") = dev.ludovic.netlib.lapack.LAPACK.getInstance().getClass.getName
    m("local_cpus") = ctx.cpus
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON text of Scala maps, sequences, options and numbers. */
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def writeText(path: String, s: String): Unit = {
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
    ()
  }

  def errorOf(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"
}
