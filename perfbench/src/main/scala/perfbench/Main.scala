package perfbench

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession

/**
 * Measuring process of the benchmark (started by run.py, one workload per
 * process):
 *
 *   gen key=value...  writes batch_pipeline's on-disk fixture (never timed)
 *   run key=value...  sets up, runs the workload, writes raw results
 *
 * The raw result file holds samples, not statistics: run.py computes
 * every median, self time and ratio, so that arithmetic is tested on its
 * own (perfbench/test_stats.py).
 */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    args.headOption match {
      case Some("gen") => gen(kv)
      case Some("run") => run(kv)
      case other => sys.error(s"usage: perfbench.Main gen|run key=value..., got $other")
    }
  }

  /** The session graft's own benchmark runs, `graft.Bench.session`, on
    * local[cores]. run.py adjusts it only through the environment that
    * session reads: SPARK_LOCAL_DIRS (takes precedence over its
    * spark.local.dir) keeps shuffle scratch inside the checkout, and
    * SPARK_GRAFT_SHUF sizes shuffles to the host (2 x cores). */
  def session(cores: Int): SparkSession = graft.Bench.session(cores)

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def workload(name: String, kv: Map[String, String]): Workload = name match {
    case "batch_pipeline" => new BatchPipeline(kv("size"), kv("seed").toLong)
    case "vector_ann" => new VectorAnn
    case other => sys.error(s"unknown workload '$other'")
  }

  private def gen(kv: Map[String, String]): Unit = {
    val spark = session(kv("cores").toInt)
    try new BatchPipeline(kv("size"), kv("seed").toLong).generate(spark, kv("fixture"))
    finally stop(spark)
  }

  /** VmHWM: the peak resident set of this process, in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def run(kv: Map[String, String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = kv("cores").toInt
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val wl = workload(kv("workload"), kv)
    val fixture = kv("fixture")

    // Set-up = process start until the SparkSession is up and the inputs
    // are registered: JVM boot and class loading included, once per
    // process, as a spark-submit job pays it.
    val spark = session(cores)
    wl.register(spark, fixture)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val mem = new Memory()

    val stageLog = if (traced) {
      val l = new StageLog
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = RunCtx(spark, kv("work"), cores, seconds, traced, () => mem.settle())
    val body = wl.measure(ctx)
    mem.stop()

    val tracer = body.tracer
    if (traced) {
      // the listener bus is asynchronous: let the last stage events land
      Thread.sleep(1000)
      tracer.foreach(_.write(kv("spans")))
      stageLog.foreach(_.write(kv("stages")))
    }
    val confJson = Json.Raw(Json.obj(spark.conf.getAll.toSeq.sorted
      .filter(_._1.startsWith("spark.")).map { case (k, v) => k -> v }: _*))
    val out = Json.obj(
      "workload" -> kv("workload"),
      "setup_s" -> setupS,
      "rss_hwm_mb" -> peakRssMb(),
      "memory" -> Json.Raw(mem.json),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_conf" -> confJson,
      "result" -> Json.Raw(body.json))
    val w = new PrintWriter(kv("out"), "UTF-8")
    try w.println(out) finally w.close()
    stop(spark)
  }
}

final case class RunCtx(spark: SparkSession, work: String, cores: Int,
                        seconds: Double, traced: Boolean, afterOp: () => Unit)

/** What a workload's measurement returns: its raw JSON and, when traced,
  * the spans it recorded. */
final case class Measured(json: String, tracer: Option[Tracer])

trait Workload {
  /** Register the fixture's inputs with a fresh session (part of set-up). */
  def register(spark: SparkSession, dir: String): Unit

  /** First operation, steady operations for `ctx.seconds`, checks; with
    * `ctx.traced`, the traced replay instead of the steady window. */
  def measure(ctx: RunCtx): Measured
}
