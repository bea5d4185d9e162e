package graftbench

import scala.collection.mutable.ArrayBuffer

/** One span: a layer call made by the benchmark, the span that caused
  * it (`parent`, -1 for a root) and the doc or batch it served.
  */
final case class Span(id: Int, parent: Int, name: String, item: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ns: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Used from one thread
  * (the benchmark's caller thread), so spans nest strictly. When
  * disabled every call is a plain pass-through: that is the untraced
  * run of the same sequence.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String, item: String = "")(f: => A): A =
    if (!enabled) f
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
        spans += Span(id, parent, name, item, t0, t1)
      }
    }

  /** Add a finished child measured elsewhere (a Spark job interval from
    * the listener), clipped to its parent's interval.
    */
  def addChild(parent: Span, name: String, startNs: Long, endNs: Long): Unit = {
    val a = math.max(parent.startNs, startNs)
    val b = math.min(parent.endNs, endNs)
    if (enabled && b > a) {
      spans += Span(nextId, parent.id, name, parent.item, a, b)
      nextId += 1
    }
  }

  def all: Vector[Span] = spans.toVector.sortBy(_.startNs)

  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Self time per span name in seconds: each span's duration minus the
    * durations of its children.
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.ns).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map(s => s.ns - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }

  /** Spans whose children cover more than the span itself. */
  def overfull: Int = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.ns).sum).toMap
    spans.count(s => childNs.getOrElse(s.id, 0L) > s.ns)
  }

  /** One JSON object per line, times relative to the first span start,
    * with any `extra` fields of a span (its Spark counters).
    */
  def writeJsonLines(path: java.nio.file.Path,
                     extra: Span => Seq[(String, Any)] = _ => Nil): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = all.map { s =>
      J.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "item" -> s.item, "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0)) ++ extra(s): _*)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** The per-layer summary of a traced run and its self-time check.
  *
  * `check` is the benchmark's own correctness work inside the traced
  * sequence (the driver kernel's digest). `bench` is the rest of the
  * benchmark's code between layer calls: loops, bookkeeping and the
  * tracer itself. It is reported, but left out of the sum that the
  * gate compares with the traced total, so a layer call made outside
  * any layer span shows up as a shortfall.
  */
object Traced {
  val Layers = Seq("ingest", "annotate", "rdf", "pipeline", "sink", "table",
    "streaming", "claims", "check", "bench")

  /** The layer self-times (all but `bench`) must add up to the traced
    * wall time within this share.
    */
  val SumTolerance = 0.02

  def layerSelf(tr: Tracer): Map[String, Double] =
    tr.selfSeconds.toSeq.groupBy(_._1.takeWhile(_ != '.'))
      .view.mapValues(_.map(_._2).sum).toMap.withDefaultValue(0.0)

  def summary(tr: Tracer, tracedS: Double, untracedS: Double): Seq[(String, Double, String)] = {
    val self = layerSelf(tr)
    Layers.map(l => (s"self.${l}_s", self(l), "s")) ++ Seq(
      ("trace.total_s", tracedS, "s"),
      ("trace.overhead_s", tracedS - untracedS, "s"),
      ("trace.self_sum_error", sumError(tr, tracedS), "ratio"),
      ("trace.spans", tr.all.length.toDouble, "count"))
  }

  private def sumError(tr: Tracer, tracedS: Double): Double =
    math.abs((layerSelf(tr) - "bench").values.sum - tracedS) / tracedS

  /** Write the span file; each span named in `attributed` carries the
    * Spark jobs, tasks, shuffle and spill of the calls it made.
    */
  def write(h: Harness, tr: Tracer, attributed: Set[String]): Unit = {
    val windows = tr.all.filter(s => attributed(s.name)).map { s =>
      s.id -> h.window(h.msOfNano(s.startNs), h.msOfNano(s.endNs))
    }.toMap
    tr.writeJsonLines(h.args.out.resolve(s"${h.args.workload}-seed${h.args.seed}.spans.jsonl"),
      s => windows.get(s.id).toSeq.map(w => "spark" -> Map(
        "jobs" -> w.jobs, "tasks" -> w.tasks, "sql_executions" -> w.sqlExecutions,
        "task_busy_s" -> w.busyS, "task_wait_s" -> w.waitS, "gc_s" -> w.gcS,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "spill_bytes" -> w.spillBytes)))
  }

  def sumGate(tr: Tracer, tracedS: Double): (String, Boolean, String) = {
    val err = sumError(tr, tracedS)
    val unknown = layerSelf(tr).keySet -- Layers
    ("trace_self_sum", err <= SumTolerance && tr.overfull == 0 && unknown.isEmpty,
      f"layer self-times (bench left out) sum to the traced total within ${err * 100}%.3f%% (tolerance ${SumTolerance * 100}%.0f%%); overfull spans ${tr.overfull}; unknown layers ${unknown.mkString(",")}")
  }
}
