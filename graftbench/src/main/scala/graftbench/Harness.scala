package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      size: String, corrupt: String, work: Path, out: Path,
                      cpus: Int, commit: String) {
  def tiny: Boolean = size == "tiny"
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, default: => String): String = kv.getOrElse(k, default)
    Args(
      workload = get("workload", sys.error("--workload is required")),
      seed = get("seed", sys.error("--seed is required")).toLong,
      seconds = get("seconds", sys.error("--seconds is required")).toDouble,
      trace = get("trace", "0") == "1",
      size = get("size", "full"),
      corrupt = get("corrupt", "none"),
      work = Paths.get(get("work", "graftbench/.work")).toAbsolutePath,
      out = Paths.get(get("out", "graftbench/out")).toAbsolutePath,
      cpus = get("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      commit = get("commit", "unknown"))
  }
}

/** What one workload reports: metrics by name with unit, the items it
  * attempted and lost, its correctness gates and its input sizes.
  */
final case class Outcome(metrics: Seq[(String, Double, String)], attempted: Long,
                         failed: Long, gates: Seq[(String, Boolean, String)],
                         sizes: Seq[(String, Any)], notes: Seq[String] = Nil)

trait Workload {
  /** Session-level set-up: dictionary broadcast, inputs, warm-up. */
  def setup(): Unit
  /** Untraced run for the end-to-end metrics, followed by the gates. */
  def measure(): Outcome
  /** Untraced and traced run of one sequence for the per-layer metrics. */
  def traced(): Outcome
}

/** The benchmark's session, listeners, clocks and heap peaks. */
final class Harness(val args: Args) {
  var spark: SparkSession = _
  var counters: SparkCounters = _
  private val gc = new GcPeaks
  private val heapPeaks = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val gcsPerCall = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var dirs = 0

  // listener times are epoch milliseconds, spans use nanoTime
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nanoOfMs(ms: Long): Long = nano0 + (ms * 1000000L - epochNs0)
  def msOfNano(ns: Long): Long = (epochNs0 + (ns - nano0)) / 1000000L
  def nowMs: Long = System.currentTimeMillis()

  def newSession(): Unit = {
    spark = graft.RunPipeline.session(args.cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Counters of the jobs started in a window, once delivered. */
  def window(fromMs: Long, toMs: Long): SparkWindow = {
    org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
    counters.window(fromMs, toMs)
  }

  /** A fresh directory under the run's work directory. */
  def freshDir(name: String): String = {
    dirs += 1
    args.work.resolve(s"$name-$dirs").toString
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One timed call (a commit or a batch) with its heap peak: the call
    * starts from a collected heap, outside its timing, and its peak is
    * the largest heap in use after any collection that ran during it —
    * its working set on top of what stays live between calls.
    */
  def timedCall[A](f: => A): (A, Double) = {
    System.gc()
    gc.reset()
    val r = seconds(f)
    val (mb, n) = gc.reset()
    gcsPerCall += n
    if (n > 0) heapPeaks += mb
    r
  }

  /** Median of the per-call heap peaks. */
  def heapPeakMb: Double = Stats.median(heapPeaks.toSeq)

  def heapNote: String =
    f"heap peaks per call (MB): ${heapPeaks.map(x => f"$x%.1f").mkString(",")}; collections per call: ${gcsPerCall.mkString(",")}"
}

/** Heap in use after each garbage collection, from the collectors'
  * notifications (delivered on a JMX thread, hence the drain).
  */
final class GcPeaks {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val delivered = new AtomicLong
  private val sinceReset = new AtomicLong
  private val peak = new AtomicLong(-1L)
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        sinceReset.incrementAndGet()
        delivered.incrementAndGet()
      }
  }
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  private val before = collections

  private def collections: Long = beans.map(_.getCollectionCount).sum

  /** Waits until every collection so far is delivered, then returns the
    * peak since the last reset in MB and the number of collections it
    * was taken over, and starts a new one.
    */
  def reset(): (Double, Long) = {
    val want = collections - before
    val deadline = System.nanoTime() + 2000000000L
    while (delivered.get < want && System.nanoTime() < deadline) Thread.sleep(2)
    (peak.getAndSet(-1L) / (1024.0 * 1024.0), sinceReset.getAndSet(0L))
  }
}

object Harness {
  /** splitmix64 finalizer: seeds to well-spread input offsets. */
  def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
