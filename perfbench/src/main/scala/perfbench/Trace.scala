package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Wall clock in epoch milliseconds with nanosecond resolution: the same
  * clock Spark stamps stage submission and completion with, so spans and
  * listener records can be matched by time. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans nest through a stack
  * (the traced replay calls every layer from one thread) and are written
  * once, at the end, as JSON lines. */
final class Tracer {
  import Tracer.Span

  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var opId = 0

  /** Start a new operation: later root spans carry this id. */
  def nextOp(): Unit = opId += 1

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), opId, name,
      Clock.nowMs, Double.NaN)
    spans += s
    stack = s.id :: stack
    try body
    finally {
      s.end = Clock.nowMs
      stack = stack.tail
    }
  }

  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        start: Double, var end: Double)
}

/** Per-job and per-stage executor records, kept in memory (same counters
  * as graft.BenchOne.StageTotals, but one record per stage so they can be
  * attributed to spans). */
final class StageLog extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Json.obj("job_id" -> e.jobId, "start_ms" -> e.time.toDouble,
      "stage_ids" -> Json.Raw(Json.arr(e.stageIds.map(Json.num(_))))))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Json.obj(
      "stage_id" -> i.stageId,
      "name" -> i.name,
      "submit_ms" -> i.submissionTime.getOrElse(0L).toDouble,
      "complete_ms" -> i.completionTime.getOrElse(0L).toDouble,
      "tasks" -> i.numTasks,
      "run_ms" -> m.executorRunTime.toDouble,
      "cpu_ns" -> m.executorCpuTime.toDouble,
      "gc_ms" -> m.jvmGCTime.toDouble,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble))
  }

  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try {
      jobs.asScala.foreach(j => w.println(s"""{"kind":"job",${j.drop(1)}"""))
      stages.asScala.foreach(s => w.println(s"""{"kind":"stage",${s.drop(1)}"""))
    } finally w.close()
  }
}

/** Minimal JSON rendering for the raw result files (no JSON library is on
  * the Spark classpath under a stable public API). Values are pre-rendered
  * strings; `obj`/`arr` assemble them. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  /** An already rendered JSON fragment (array or object). */
  final case class Raw(json: String)

  /** Fields whose value is a Double, Long, Int, Boolean, String or `Raw`. */
  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val rendered = v match {
      case Raw(j) => j
      case d: Double => num(d)
      case l: Long => num(l)
      case i: Int => num(i)
      case b: Boolean => b.toString
      case s: String => str(s)
      case null => "null"
      case other => str(other.toString)
    }
    s"${str(k)}:$rendered"
  }.mkString("{", ",", "}")
}
