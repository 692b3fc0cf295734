package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.model._
import graft.operators.{canonical, mentions}
import graft.streaming.stream

/**
 * graft's streaming path, measured inside batch_pipeline's traced run: the
 * fixture's turns, in event-time order, stream through
 * `stream.detectStream` → `stabilizeStream` (keyed state) →
 * `triplesStream` into a checkpointed parquet sink, against the
 * components of the mappings the batch run just built (the "stream new
 * transcripts into the existing KG" path), on a 0.5 s processing-time
 * trigger. An open loop: one generator thread adds a chunk every
 * `IntervalMs` whether or not the query keeps up. A chunk's latency runs
 * from its due time to the completion of the first micro-batch whose
 * source end offset covers it; run.py does that matching.
 */
object StreamPhase {
  val IntervalMs = 250L
  val TriggerMs = 500L
  val WindowChunks = 16

  final case class Progress(batchId: Long, endOffset: Long, startMs: Double,
                            doneMs: Double, triggerMs: Double, inputRows: Long,
                            stateRows: Long, stateBytes: Long) {
    def json: String = Json.obj("batch_id" -> batchId, "end_offset" -> endOffset,
      "start_ms" -> startMs, "done_ms" -> doneMs, "trigger_ms" -> triggerMs,
      "input_rows" -> inputRows, "state_rows" -> stateRows, "state_bytes" -> stateBytes)
  }

  final case class Chunk(idx: Int, offset: Long, rows: Int, dueMs: Double, sentMs: Double) {
    def json: String = Json.obj("idx" -> idx, "offset" -> offset, "rows" -> rows,
      "due_ms" -> dueMs, "sent_ms" -> sentMs)
  }

  private final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(_.trim.toLongOption).getOrElse(-1L)
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val st = p.stateOperators.headOption
      events.add(Progress(p.batchId, end, start, start + p.batchDuration,
        Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0),
        p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L)))
    }
    def coveredMs(offset: Long): Option[Double] =
      events.asScala.filter(_.endOffset >= offset).map(_.doneMs).minOption
  }

  /** Chunk 0 (cold query), then `WindowChunks` timed chunks; checks that the
    * streamed mentions triples equal the batch ones for the same turns and
    * components. Returns the raw JSON of chunks and micro-batches. */
  def run(spark: SparkSession, work: String, tr: Tracer, led: Ledger,
          turns: Dataset[Turn], srcClasses: Seq[ClassText], components: DataFrame,
          turnsPerChunk: Int): String = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // event-time order keeps every turn inside the stabilize watermark
    val feed = turns.orderBy(col("ts"), col("conv_id"), col("turn_idx"))
      .limit((1 + WindowChunks) * turnsPerChunk).collect()
    val nTimed = math.min(WindowChunks, feed.length / turnsPerChunk - 1)
    val comps = components.select("id", "canonical").localCheckpoint(true)
    val log = new ProgressLog
    spark.streams.addListener(log)

    val input = MemoryStream[Turn]
    val stable = stream.stabilizeStream(spark,
      stream.detectStream(spark, input.toDS(), srcClasses).as[stream.StreamMention])
    val sink = s"$work/stream-sink"
    val chunks = ArrayBuffer[Chunk]()
    def send(i: Int, dueMs: Double): Unit = {
      val rows = feed.slice(i * turnsPerChunk, (i + 1) * turnsPerChunk).toSeq
      val off = input.addData(rows).json().trim.toLong
      chunks += Chunk(i, off, rows.size, dueMs, Clock.nowMs)
    }

    tr.nextOp()
    var startMs = 0.0
    var windowStartMs = 0.0
    val drained = tr.span("streaming.ingest") {
      startMs = Clock.nowMs
      val query = stream.triplesStream(stable.toDF(), comps)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$work/stream-checkpoint")
        .option("path", sink)
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .start()
      try {
        send(0, startMs)
        val limitMs = Clock.nowMs + 60000
        while (log.coveredMs(chunks.head.offset).isEmpty && Clock.nowMs < limitMs &&
          query.isActive) Thread.sleep(20)
        // open loop: chunk i is due at t0 + (i - 1) * interval, sent on time or late
        windowStartMs = Clock.nowMs + IntervalMs
        val generator = new Thread(() => {
          for (i <- 1 to nTimed) {
            val due = windowStartMs + (i - 1) * IntervalMs
            val wait = due - Clock.nowMs
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
            send(i, due)
          }
        }, "perfbench-generator")
        generator.start()
        generator.join()
        query.processAllAvailable()
        true
      } catch {
        case e: Exception =>
          led.check("stream_drained", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      } finally {
        query.stop()
        spark.streams.removeListener(log)
      }
    }
    if (drained) led.check("stream_drained", ok = true, s"${chunks.size} chunks")

    val fed = feed.take(chunks.map(_.rows).sum).toSeq
    val streamed = Digest.of(spark.read.parquet(sink))
    val batchMens = mentions.stabilize(
      mentions.detect(spark, fed.toDS(), srcClasses).toDF(),
      spark.sparkContext.defaultParallelism)
      .join(broadcast(comps.select(col("id").as("class_iri"), col("canonical"))),
        Seq("class_iri"), "left")
      .select(col("conv_id"), col("turn_idx"), col("onto"),
        coalesce(col("canonical"), col("class_iri")).as("class_iri"), col("surface"))
    val batch = Digest.of(canonical.triples(
      Seq.empty[(String, String, Double)].toDF("entity1", "entity2", "value"),
      batchMens, Seq.empty[(String, String)].toDF("child_iri", "parent_iri")))
    led.check("stream_equals_batch_mentions", streamed == batch,
      s"stream ${streamed.json} vs batch ${batch.json}")

    Json.obj(
      "start_ms" -> startMs,
      "window_start_ms" -> windowStartMs,
      "interval_ms" -> IntervalMs.toDouble,
      "trigger_ms" -> TriggerMs.toDouble,
      "chunks" -> Json.Raw(Json.arr(chunks.map(_.json))),
      "progress" -> Json.Raw(Json.arr(log.events.asScala.toSeq.sortBy(_.batchId).map(_.json))))
  }
}
