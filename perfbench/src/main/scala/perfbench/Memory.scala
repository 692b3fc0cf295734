package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv

/**
 * The memory the program holds, sampled every `intervalMs` on a daemon
 * thread, as opposed to what the JVM has reserved for it. The resident set
 * of a JVM with a fixed heap is mostly that heap: young collections touch
 * every eden page whatever the program retains. A sample holds
 *
 *  - the heap live at the latest `settle()`: a full collection between
 *    operations, so that old-generation garbage no concurrent cycle has
 *    reclaimed yet is not counted (whether one had run decided whether a
 *    run read ~1 or ~2 GB);
 *  - the heap left after the most recent collection (each heap pool's
 *    collection usage), old-generation garbage included;
 *  - Spark's off-heap execution and storage pages (sort, aggregate and
 *    join buffers under spark.memory.offHeap);
 *  - direct byte buffers;
 *
 * and `json` adds the non-heap pools' peak (metaspace, compressed
 * classes, code cache). run.py reduces the samples to metrics.
 */
final class Memory(intervalMs: Long = 20L) {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val direct = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean])
    .asScala.filter(_.getName == "direct").toSeq
  @volatile private var running = true
  @volatile private var live = 0L
  private val samples = ArrayBuffer[(Double, Long, Long, Long, Long)]()

  /** Bytes retained in the heap after the most recent collection. */
  private def retained: Long =
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum

  /** Spark's off-heap execution + storage pages. MemoryManager is internal
    * to Spark, so it is read reflectively (public in the bytecode). */
  private def sparkOffHeap: Long = Option(SparkEnv.get).map { env =>
    val mm = env.getClass.getMethod("memoryManager").invoke(env)
    Seq("offHeapExecutionMemoryUsed", "offHeapStorageMemoryUsed")
      .map(m => mm.getClass.getMethod(m).invoke(mm).asInstanceOf[Long]).sum
  }.getOrElse(0L)

  private def sample(): Unit = samples.synchronized {
    samples += ((Clock.nowMs, live, retained, sparkOffHeap, direct.map(_.getMemoryUsed).sum))
  }

  /** Collect the whole heap and record what is live. Called between
    * operations, outside their timed intervals. */
  def settle(): Unit = {
    System.gc()
    live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    sample()
  }

  settle()

  private val thread = new Thread(() => {
    while (running) {
      sample()
      Thread.sleep(intervalMs)
    }
  }, "perfbench-memory")
  thread.setDaemon(true)
  thread.start()

  /** Stop sampling (after one last sample) and wait for the thread. */
  def stop(): Unit = {
    running = false
    thread.join()
    sample()
  }

  private def mb(bytes: Long): String = Json.num(bytes / 1048576.0)

  /** Samples as columns, in MB, plus the non-heap pools' peak. */
  def json: String = samples.synchronized {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    Json.obj(
      "t_ms" -> Json.Raw(Json.arr(samples.map(s => Json.num(s._1)))),
      "heap_live_mb" -> Json.Raw(Json.arr(samples.map(s => mb(s._2)))),
      "heap_retained_mb" -> Json.Raw(Json.arr(samples.map(s => mb(s._3)))),
      "spark_offheap_mb" -> Json.Raw(Json.arr(samples.map(s => mb(s._4)))),
      "direct_mb" -> Json.Raw(Json.arr(samples.map(s => mb(s._5)))),
      "nonheap_peak_mb" -> Json.Raw(mb(nonHeap)))
  }
}
