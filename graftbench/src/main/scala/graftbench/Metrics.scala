package graftbench

import graft.json.{JArr, JBool, JNull, JNum, JObj, JStr, JValue}

/** Every metric the benchmark prints, by name with its unit, in order.
  * A run prints all of its kind; a per-layer metric of a layer the
  * workload does not reach prints 0.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "docs_per_s" -> "1/s",
    "commit_p50_s" -> "s",
    "heap_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.lines_s" -> "s",
    "ingest.lines" -> "count",
    "annotate.segment_s" -> "s",
    "annotate.meta_s" -> "s",
    "annotate.table_s" -> "s",
    "annotate.describe_s" -> "s",
    "annotate.parts" -> "count",
    "annotate.columns" -> "count",
    "link.lookups" -> "count",
    "link.hit_ratio" -> "ratio",
    "rdf.stage2_s" -> "s",
    "rdf.expand_s" -> "s",
    "rdf.triples" -> "count",
    "rdf.triples_per_doc_max" -> "count",
    "pipeline.encode_s" -> "s",
    "pipeline.kernel_s" -> "s",
    "pipeline.corpus_s" -> "s",
    "pipeline.triples_per_s" -> "1/s",
    "sink.shuffle_bytes" -> "bytes",
    "sink.write_s" -> "s",
    "table.commit_s" -> "s",
    "table.files" -> "count",
    "table.bytes" -> "bytes",
    "table.resolve_s" -> "s",
    "table.read_pruned_s" -> "s",
    "table.pruned_ratio" -> "ratio",
    "streaming.batch_s" -> "s",
    "claims.planned_seen_bytes" -> "bytes",
    "claims.selected_ratio" -> "ratio",
    "claims.positives" -> "count",
    "claims.full_fallbacks" -> "count",
    "claims.probe_fpp_ppm_max" -> "ppm",
    "claims.fold_s" -> "s",
    "claims.fold_sidecar_bytes" -> "bytes") ++
    Traced.Layers.map(l => s"self.${l}_s" -> "s") ++ Seq(
    "trace.total_s" -> "s",
    "trace.overhead_s" -> "s",
    "trace.self_sum_error" -> "ratio",
    "trace.spans" -> "count",
    "spark.jobs" -> "count",
    "spark.task_busy_s" -> "s",
    "spark.task_wait_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes")

  /** The reported metrics laid out as `names` lists them. */
  def complete(names: Seq[(String, String)],
               reported: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = reported.map(m => m._1 -> m).toMap
    val unknown = byName.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalogue: ${unknown.mkString(", ")}")
    names.map { case (n, unit) =>
      byName.get(n) match {
        case Some((_, v, u)) =>
          require(u == unit, s"$n is reported in $u, catalogued in $unit")
          (n, v, u)
        case None => (n, 0.0, unit)
      }
    }
  }
}

/** Scala values to graft's JSON AST, for the result line, the report
  * and the span file.
  */
object J {
  def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull
    else if (d == math.rint(d) && math.abs(d) < 1e15) JNum(d.toLong.toString)
    else JNum(java.lang.Double.toString(d))

  def apply(v: Any): JValue = v match {
    case j: JValue => j
    case s: String => JStr(s)
    case b: Boolean => JBool(b)
    case i: Int => JNum(i.toString)
    case l: Long => JNum(l.toString)
    case d: Double => num(d)
    case m: collection.Map[_, _] => JObj(m.toVector.map { case (k, x) => k.toString -> apply(x) })
    case xs: Seq[_] => JArr(xs.toVector.map(apply))
    case other => JStr(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    JObj(fields.toVector.map { case (k, v) => k -> apply(v) }).render
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
