package graftbench

import scala.collection.immutable.ListMap

/** graft's benchmark: one workload per run, one driver process, one
  * closed-loop caller on `local[cpus]`.
  *
  *   Main --workload kg_mixed|curate_stream --seed N --seconds S
  *        --trace 0|1 [--work DIR] [--out DIR] [--cpus N] [--commit ID]
  *
  * The self-test of `run.py` adds `--size tiny` and
  * `--corrupt drop-triple|add-survivor`.
  *
  * With `--trace 0` it sets up three times (the median is `setup_s`),
  * runs the workload's timed part untraced and prints the end-to-end
  * metrics. With `--trace 1` it sets up once, warms up, runs one
  * sequence untraced, traced and untraced again, and prints the
  * per-layer metrics, the per-layer self-times and the tracing
  * overhead. Either way the
  * correctness gates run, and the last stdout line is the result object.
  */
object Main {
  val SetupRuns = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val h = new Harness(a)
    val w: Workload = a.workload match {
      case "kg_mixed" => new Kg(h)
      case "curate_stream" => new Curate(h)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      // the previous session is stopped outside the timed set-up
      val setups = (1 to (if (a.trace) 1 else SetupRuns)).map { _ =>
        h.stopSession()
        h.seconds { h.newSession(); w.setup() }._2
      }
      val o = if (a.trace) w.traced() else w.measure()
      val metrics =
        if (a.trace) Metrics.complete(Metrics.PerLayer, o.metrics)
        else Metrics.complete(Metrics.EndToEnd, ("setup_s", Stats.median(setups), "s") +: o.metrics)
      report(a, h, o, metrics, setups)
    } finally h.stopSession()
  }

  private def report(a: Args, h: Harness, o: Outcome,
                     metrics: Seq[(String, Double, String)], setups: Seq[Double]): Unit = {
    val correct = o.gates.forall(_._2)
    val host = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> (if (a.trace) 1 else 0), "size" -> a.size,
      "nproc" -> a.cpus, "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION, "commit" -> a.commit,
      "inputs" -> ListMap(o.sizes: _*), "setup_runs_s" -> setups)
    val gates = o.gates.map { case (n, ok, detail) => Map("gate" -> n, "ok" -> ok, "detail" -> detail) }
    val metricMap = ListMap(metrics.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    java.nio.file.Files.createDirectories(a.out)
    java.nio.file.Files.write(
      a.out.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      J.obj("host" -> ListMap(host: _*), "gates" -> gates, "notes" -> o.notes,
        "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> metricMap).getBytes("UTF-8"))
    println(J.obj("host" -> ListMap(host: _*)))
    o.gates.foreach { case (n, ok, detail) => println(s"gate $n: ${if (ok) "ok" else "FAILED"} ($detail)") }
    o.notes.foreach(println)
    metrics.foreach { case (n, v, u) => println(f"$n%-28s ${J.num(v).render}%s $u") }
    println(J.obj("correct" -> correct, "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> metricMap))
    System.out.flush()
  }
}
