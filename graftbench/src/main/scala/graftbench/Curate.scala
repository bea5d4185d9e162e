package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.ops.Curation
import graft.streaming.{ClaimStore, StreamingCuration}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One batch's wall time (its fold included) and its claim-store
  * counters (ClaimStore.Metrics is reset around each call).
  */
final case class BatchStat(seconds: Double, seenBytes: Long, selected: Long,
                           baseFiles: Long, positives: Long, fallbacks: Long,
                           fppPpm: Long, foldSidecarBytes: Long)

/** curate_stream: a fixed trajectory of equal-size micro-batches through
  * `StreamingCuration.processBatch`, with the claim-store fold called
  * by the benchmark every `FoldEvery` batches — what `compactEvery`
  * would do inside the call. The trajectory is fixed, not cut by the
  * clock, so every run's last batch probes the same history.
  */
final class Curate(h: Harness) extends Workload {
  private val a = h.args
  private val batchDocs = if (a.tiny) 40 else 500
  private val batches = if (a.tiny) 3 else 6
  private val FoldEvery = 3
  private val cfg = Curation.CurateConfig(minWords = 5)
  private val first = 1000000L * (1 + Math.floorMod(Harness.mix(a.seed), 1L << 16))

  private var docs: DataFrame = _

  private def id(i: Long): String = f"doc-$i%012d"

  def setup(): Unit = {
    docs = Curate.corpus(h.spark, first - batchDocs, batchDocs * (batches + 1L), batchDocs)
      .localCheckpoint()
    // the fixed warm-up: one batch of its own into a scratch claim store
    // and one fold of it, so the trajectory's first fold is not the JVM's
    val warm = h.freshDir("warmup")
    StreamingCuration.processBatch(rows(first - batchDocs, first), 0, warm, "doc_id", "text", cfg)
    StreamingCuration.compactSidecars(h.spark, warm, 0)
  }

  private def rows(from: Long, until: Long): DataFrame =
    docs.filter(col("doc_id") >= id(from) && col("doc_id") < id(until))

  private def batch(b: Int): DataFrame =
    rows(first + b.toLong * batchDocs, first + (b + 1L) * batchDocs)

  /** The trajectory (its first `n` batches) into a fresh claim store
    * under `out`. Returns the per-batch stats and the number of batches
    * that failed. With `heap` each batch is a `Harness.timedCall`, which
    * also takes its heap peak.
    */
  private def trajectory(out: String, tr: Tracer, heap: Boolean = false,
                         n: Int = batches): (Vector[BatchStat], Int) = {
    val m = ClaimStore.Metrics
    val stats = ArrayBuffer.empty[BatchStat]
    var failed = 0
    tr.span("bench.run") {
      for (b <- 0 until n) {
        def call(): BatchStat = tr.span("bench.batch", s"batch-$b") {
          m.reset()
          tr.span("streaming.batch", s"batch-$b") {
            StreamingCuration.processBatch(batch(b), b, out, "doc_id", "text", cfg)
          }
          val stat = BatchStat(0.0, m.plannedSeenBytes.get, m.baseFilesSelected.get,
            m.baseFilesTotal.get, m.positives.get, m.fullFallbacks.get, m.probeFppPpm.get, 0L)
          m.reset()
          if (b > 0 && b % FoldEvery == 0)
            tr.span("claims.fold", s"batch-$b")(StreamingCuration.compactSidecars(h.spark, out, b - 1))
          stat.copy(foldSidecarBytes = m.foldSidecarBytes.get)
        }
        try {
          val (stat, s) = if (heap) h.timedCall(call()) else h.seconds(call())
          stats += stat.copy(seconds = s)
        } catch { case NonFatal(_) => failed += 1 }
      }
    }
    (stats.toVector, failed)
  }

  /** Streamed survivors must equal the batch funnel's over the same docs. */
  private def parity(out: String, run: String = ""): (String, Boolean, String) = {
    val processed = rows(first, first + batches.toLong * batchDocs)
    val expected = Digest.of(Curation.curate(processed, "doc_id", "text", cfg), "doc_id", "text_curated")
    val streamed0 = h.spark.read.parquet(s"$out/curated").select("doc_id", "text_curated")
    val streamed = if (a.corrupt != "add-survivor") streamed0
      else streamed0.union(h.spark.createDataFrame(Seq(("doc-extra", "an added survivor"))).toDF("doc_id", "text_curated"))
    val got = Digest.of(streamed, "doc_id", "text_curated")
    ("survivors_equal" + run, got == expected && expected.rows > 0, s"streamed $got; batch $expected")
  }

  private def sizes(stats: Vector[BatchStat]): Seq[(String, Any)] =
    Seq("batch_docs" -> batchDocs, "batches" -> stats.length, "fold_every" -> FoldEvery,
      "first_doc" -> id(first))

  def measure(): Outcome = {
    val out = h.freshDir("stream")
    val (stats, failed) = trajectory(out, new Tracer(false), heap = true)
    val times = stats.map(_.seconds)
    // batch_tail_s (the highest percentile with ten batches beyond it)
    // needs more than ten batches; the trajectory has fewer
    val tail = s"batch_tail_s: none, ${times.length} batches leave no percentile with ten beyond it"
    Outcome(
      metrics = Seq(
        ("docs_per_s", stats.length * batchDocs / times.sum, "1/s"),
        ("commit_p50_s", Stats.median(times), "s"),
        ("heap_peak_mb", h.heapPeakMb, "MB")),
      attempted = batches.toLong * batchDocs,
      failed = failed.toLong * batchDocs,
      gates = Seq(parity(out)),
      sizes = sizes(stats),
      notes = Seq(tail, s"batch_s=${times.map(x => f"$x%.3f").mkString(",")}", h.heapNote))
  }

  /** The trajectory's first fold cycle untraced warms every call; then
    * the trajectory untraced, traced and untraced again (the overhead is
    * taken against the mean of the two untraced runs, as for kg_mixed).
    */
  def traced(): Outcome = {
    val (_, failedW) = trajectory(h.freshDir("warmup"), new Tracer(false), n = FoldEvery + 1)
    val ((_, failedU1), untraced1S) = h.seconds(trajectory(h.freshDir("stream"), new Tracer(false)))
    val tr = new Tracer(true)
    val outT = h.freshDir("stream")
    val fromMs = h.nowMs
    val ((stats, failed), tracedS) = h.seconds(trajectory(outT, tr))
    val w = h.window(fromMs, h.nowMs)
    val outU = h.freshDir("stream")
    val ((_, failedU2), untraced2S) = h.seconds(trajectory(outU, new Tracer(false)))
    Traced.write(h, tr, Set("streaming.batch", "claims.fold"))
    val self = tr.selfSeconds.withDefaultValue(0.0)
    val layer = Seq(
      ("streaming.batch_s", self("streaming.batch"), "s"),
      ("claims.planned_seen_bytes", stats.map(_.seenBytes).sum.toDouble, "bytes"),
      ("claims.selected_ratio", stats.map(_.selected).sum.toDouble / math.max(1L, stats.map(_.baseFiles).sum), "ratio"),
      ("claims.positives", stats.map(_.positives).sum.toDouble, "count"),
      ("claims.full_fallbacks", stats.map(_.fallbacks).sum.toDouble, "count"),
      ("claims.probe_fpp_ppm_max", if (stats.isEmpty) 0.0 else stats.map(_.fppPpm).max.toDouble, "ppm"),
      ("claims.fold_s", self("claims.fold"), "s"),
      ("claims.fold_sidecar_bytes", stats.map(_.foldSidecarBytes).sum.toDouble, "bytes"))
    Outcome(
      metrics = layer ++ Traced.summary(tr, tracedS, (untraced1S + untraced2S) / 2) ++ w.metrics,
      attempted = (3L * batches + FoldEvery + 1) * batchDocs,
      failed = (failedW + failedU1 + failed + failedU2).toLong * batchDocs,
      gates = Seq(parity(outT, "_traced"), parity(outU, "_untraced"), Traced.sumGate(tr, tracedS)),
      sizes = sizes(stats))
  }
}

object Curate {
  /** The curate corpus: short prose docs with injected duplicates. Docs
    * come in groups of `dupGroup` sharing one text, every doc shares a
    * boilerplate first line, and one doc in 16 repeats a text from the
    * batch before, so later batches find claims in the history.
    */
  def corpus(spark: org.apache.spark.sql.SparkSession, from: Long, n: Long,
             batchDocs: Int, dupGroup: Int = 4): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, 4).map { i =>
      val own = i - i % dupGroup
      val k = if (i % 16 == 5 && i - batchDocs >= from) (i - batchDocs) - (i - batchDocs) % dupGroup else own
      val body = (0 until 3).map(j =>
        s"the measurement run number ${k}_$j was completed and the result " +
          s"of the test is ${k * 37 + j} units that we have recorded with great care").mkString("\n")
      (f"doc-$i%012d", "shared boilerplate navigation header\n" + body)
    }.toDF("doc_id", "text")
  }
}
