package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.SnapTable

/** Cross-batch first-seen claim state for the streaming curation
  * funnel, one [[graft.table.SnapTable]] per claim domain (line hashes,
  * n-gram hashes, curated-text hashes).
  *
  *  - **Atomic claims.** A batch's new claims commit in ONE manifest
  *    CAS, tagged `b:<batchId>` per file with the batch id as the
  *    table watermark. A replayed batch (crash between claim write and
  *    engine commit) is detected on the watermark and skips the
  *    re-append — claims are deterministic given the same inputs, so
  *    the previous attempt's commit is exactly right. Every state
  *    transition is a snapshot commit, so claim sets are globally
  *    DISTINCT by construction — the write path anti-joins against all
  *    earlier claims, appends are replay-skipped, and [[fold]] is a
  *    snapshot-isolated rewrite — and readers never need a defensive
  *    `.distinct()`.
  *
  *  - **One read path.** [[seenFor]] reads every claim file of an
  *    earlier batch plus every folded `base` file in one parquet scan
  *    and semi-joins it with the batch's hashes, so the frame callers
  *    pin is batch-sized even though the scan covers the history.
  *    Spark/AQE picks the join strategy.
  *
  *  - **Bounded file count.** [[fold]] rewrites committed batch files
  *    into `base` files of about `foldTargetBytes` each, one "run" per
  *    fold, and merges the smallest runs once there are more
  *    than `maxRuns` of them (size-tiered compaction), so the scan's
  *    file list stays bounded on an unbounded stream.
  */
object ClaimStore {

  /** Per-batch seen-side read accounting, for the trajectory bench:
    * `plannedSeenBytes` is the manifest size of every claim file
    * selected for reading this batch (the driver-side read plan), and
    * `baseFilesSelected` / `baseFilesTotal` count the folded base files
    * read / present — equal, since every base file is read. Reset at
    * batch start, read after.
    */
  object Metrics {
    val plannedSeenBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val baseFilesSelected = new java.util.concurrent.atomic.AtomicLong(0)
    val baseFilesTotal = new java.util.concurrent.atomic.AtomicLong(0)
    // The benchmark still reports these four; the read path has no
    // filter, probe positives or fallback, so they stay 0.
    val positives = new java.util.concurrent.atomic.AtomicLong(0)
    val fullFallbacks = new java.util.concurrent.atomic.AtomicLong(0)
    val probeFppPpm = new java.util.concurrent.atomic.AtomicLong(0)
    val foldSidecarBytes = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit =
      Seq(plannedSeenBytes, baseFilesSelected, baseFilesTotal,
        positives, fullFallbacks, probeFppPpm, foldSidecarBytes)
        .foreach(_.set(0))
  }

  /** Manifest snapshots each fold's expire keeps. */
  private val ExpireKeep = 64

  /** `foldTargetBytes` is the target size of a folded base file.
    *
    * `maxRuns` caps the number of base RUNS (each fold appends one):
    * when exceeded, [[fold]] merges the smallest runs back to the cap.
    * Merging smallest-first makes run sizes geometric, so a claim is
    * rewritten O(log batches) times over the stream's life — never the
    * linear-in-history write amplification of a fixed-period major
    * compaction.
    */
  final case class Config(
      foldTargetBytes: Long = 8L * 1024 * 1024,
      maxRuns: Int = 8)

  private def batchOf(e: SnapTable.FileEntry): Option[Long] =
    e.tag.collect { case t if t.startsWith("b:") => t.stripPrefix("b:").toLong }
  private def isBase(e: SnapTable.FileEntry): Boolean = e.tag.contains("base")

  /** The last batch id whose claims are COMMITTED (folds preserve it). */
  def lastBatch(spark: SparkSession, root: String): Option[Long] =
    SnapTable.lastWatermark(spark, root).map(_.toLong)

  /** Commit this batch's new claims (single column `hCol`) atomically.
    * Idempotent under replay: if a previous attempt of `batchId` (or a
    * later batch — a rewound checkpoint, out of contract but harmless
    * here) already committed, the append is skipped; the claims are a
    * deterministic function of the batch and the earlier claim state,
    * so the committed set is exactly what this attempt would write.
    * An empty claim set commits as a pure watermark bump (no files).
    */
  def appendClaims(spark: SparkSession, root: String, claims: DataFrame,
                   hCol: String, batchId: Long): Unit = {
    if (lastBatch(spark, root).exists(_ >= batchId)) return
    // exactStats off: the claim read path never uses manifest row
    // counts, and skipping the read-back stats job halves the per-batch
    // write cost of each domain
    SnapTable.append(spark, root, claims.select(col(hCol)),
      watermark = Some(batchId.toString), tag = Some(s"b:$batchId"),
      exactStats = false)
    ()
  }

  /** The claims among `batchHashes` that a batch < `batchId` committed
    * (a replayed batch must not see its own earlier attempt's claims):
    * a single-column (`hCol`) frame, distinct because claims are.
    * `batchHashes` may repeat a hash. None = no earlier claim files.
    */
  def seenFor(spark: SparkSession, root: String, batchHashes: DataFrame,
              hCol: String, batchId: Long): Option[DataFrame] = {
    val snap = SnapTable.snapshot(spark, root).getOrElse(return None)
    val base = snap.files.filter(isBase)
    val files = snap.files.filter(e => batchOf(e).exists(_ < batchId)) ++ base
    Metrics.baseFilesTotal.addAndGet(base.size.toLong)
    Metrics.baseFilesSelected.addAndGet(base.size.toLong)
    if (files.isEmpty) return None
    Metrics.plannedSeenBytes.addAndGet(files.map(_.bytes).sum)
    Some(spark.read.parquet(files.map(_.path): _*).select(col(hCol))
      .join(batchHashes.select(col(hCol)), Seq(hCol), "left_semi"))
  }

  /** Fold the claim files of batches <= `upToBatch` into base files (ONE
    * atomic rewrite — the existing base is neither read nor rewritten),
    * merge runs over the cap, and expire old manifests. Callers pass
    * only COMMITTED batches (`currentBatchId - 1`), mirroring the
    * engine's commit order, so no folded batch can replay.
    */
  def fold(spark: SparkSession, root: String, upToBatch: Long,
           cfg: Config = Config()): Unit = {
    if (upToBatch < 0) return
    val snap = SnapTable.snapshot(spark, root).getOrElse(return)
    val folded = (e: SnapTable.FileEntry) => batchOf(e).exists(_ <= upToBatch)
    val victims = snap.files.filter(folded)
    if (victims.nonEmpty)
      rewriteToBase(spark, root, victims.map(_.bytes).sum, cfg, folded)
    mergeRunsOverCap(spark, root, cfg)
    SnapTable.expire(spark, root, keepLast = ExpireKeep)
  }

  /** One run: the files `pick` selects, rewritten into `base` files of
    * about `foldTargetBytes` (claims are globally distinct, so the rows
    * pass through unchanged).
    */
  private def rewriteToBase(spark: SparkSession, root: String, bytes: Long,
                            cfg: Config, pick: SnapTable.FileEntry => Boolean): Unit = {
    SnapTable.rewrite(spark, root, pick, rewriteAs = identity,
      clusterFiles = math.max(1L, bytes / cfg.foldTargetBytes).toInt,
      tag = Some("base"))
    ()
  }

  /** The staging stamp shared by the files of one run
    * (`<stamp>-<i>.parquet`, see `SnapTable.stageFiles`).
    */
  private def runOf(e: SnapTable.FileEntry): String =
    new Path(e.path).getName.takeWhile(_ != '-')

  /** Size-tiered run-count cap: each fold appends one run, so a
    * long-lived stream accumulates runs (and base files) without bound.
    * When the base exceeds `maxRuns` runs, merge the SMALLEST runs (by
    * bytes) back down to the cap in one snapshot-isolated rewrite.
    */
  private def mergeRunsOverCap(spark: SparkSession, root: String,
                               cfg: Config): Unit = {
    if (cfg.maxRuns <= 0) return
    val snap = SnapTable.snapshot(spark, root).getOrElse(return)
    val runs = snap.files.filter(isBase).groupBy(runOf)
      .map { case (r, fs) => (r, fs.map(_.bytes).sum) }.toVector
    if (runs.size <= cfg.maxRuns) return
    val victims = runs.sortBy(_._2).take(runs.size - cfg.maxRuns + 1)
      .map(_._1).toSet
    rewriteToBase(spark, root, runs.filter(r => victims(r._1)).map(_._2).sum, cfg,
      e => isBase(e) && victims(runOf(e)))
  }
}
