package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.table.SnapTable

/** Cross-batch first-seen claim state for the streaming curation
  * funnel, one [[graft.table.SnapTable]] per claim domain (line hashes,
  * n-gram hashes, curated-text hashes). This replaces the
  * batch-partitioned parquet sidecars and closes BOTH of their
  * documented scale/crash caveats at once:
  *
  *  - **Atomic claims.** A batch's new claims commit in ONE manifest
  *    CAS, tagged `b:<batchId>` per file with the batch id as the
  *    table watermark. A replayed batch (crash between claim write and
  *    engine commit) is detected on the watermark and skips the
  *    re-append — claims are deterministic given the same inputs, so
  *    the previous attempt's commit is exactly right. The old layout's
  *    crash-window duplicate claims (partial dynamic-partition
  *    overwrites, interrupted folds) cannot happen: every state
  *    transition here is a snapshot commit. Claim sets are therefore
  *    globally DISTINCT by construction — the write path anti-joins
  *    against all earlier claims, appends are replay-skipped, and
  *    [[fold]] is a snapshot-isolated rewrite — so readers never need
  *    a defensive `.distinct()` over corpus-sized state.
  *
  *  - **Batch-bounded reads.** The old read path anti-joined each
  *    micro-batch against the FULL cumulative claim set — O(corpus)
  *    bytes per batch, tens of TB per batch at 10^12 docs. Here the
  *    per-batch read is bounded by the BATCH, not the corpus:
  *    unfolded recent batch files are read fully (bounded by
  *    `compactEvery` batches), and the folded base is probed through
  *    an LSM of immutable Bloom filters — a batch hash every filter
  *    rejects is DEFINITELY unclaimed and costs zero base bytes; the
  *    surviving positives (true duplicates + ~fpp false positives,
  *    both batch-bounded) are exact-checked against only the base
  *    chunks whose manifest [lo,hi] hash bounds contain a positive AND
  *    whose per-chunk filter claims it, with the `IN` filter pushed to
  *    parquet so row-group stats on the range-clustered, sorted chunks
  *    prune inside the file too.
  *
  *  - **Fold cost bounded by the fold, not the corpus.** Every filter
  *    is IMMUTABLE and scoped to immutable data: one probe filter per
  *    sorted run (`bloomruns/<runStamp>.gbf`, sized from the run's
  *    exact manifest row count — there is no corpus-sizing knob to
  *    saturate) and one selection filter per chunk
  *    (`bloomchunks/<chunk>.bf`). A fold writes filters only for the
  *    run(s) it just created — O(new claims) sidecar bytes, the same
  *    LSM bound as the data rewrite itself — and the probe is the
  *    union over the ≤ `maxRuns` live run filters (per-run fpp is
  *    budgeted at `BloomFpp / maxRuns` so the union stays inside
  *    `BloomFpp`). Immutable files cache forever: each run filter is
  *    broadcast once per driver lifetime and parsed once per executor
  *    (keyed by the broadcast value's identity), so steady-state
  *    batches pay zero sidecar bytes. Nothing is ever rewritten whole.
  *
  * Correctness never depends on any filter: filters only PRUNE
  * definitely-absent probes. A missing/torn/corrupt filter file
  * degrades to reading that run's chunks in full (recorded in
  * [[Metrics]]), never to a wrong answer; false positives are always
  * resolved by the exact check. All driver-side order comparisons
  * against manifest bounds are done on UTF-8 BYTES — the same order
  * Spark's min/max computes on UTF8String — so a non-ASCII hash column
  * cannot make bounds pruning skip a true positive (Java String
  * ordering is UTF-16 and disagrees above the BMP).
  */
object ClaimStore {

  /** Per-batch seen-side read accounting, for the trajectory bench:
    * `plannedSeenBytes` is the manifest size of every claim file
    * selected for reading this batch (the driver-side read plan — the
    * parquet reader may read less via row-group pruning, never more
    * except footers). `foldSidecarBytes` counts filter-sidecar bytes
    * WRITTEN by folds — the witness that a fold's sidecar cost is
    * O(new claims), not O(corpus). `probeFppPpm` is the union-bound
    * false-positive estimate of the probe filters consulted (parts per
    * million, max over this batch's probes) — the saturation
    * observability that replaces the old fixed-size filter's silent
    * degradation. Reset at batch start, read after.
    */
  object Metrics {
    val plannedSeenBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val bloomProbeBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val baseFilesSelected = new java.util.concurrent.atomic.AtomicLong(0)
    val baseFilesTotal = new java.util.concurrent.atomic.AtomicLong(0)
    val positives = new java.util.concurrent.atomic.AtomicLong(0)
    val fullFallbacks = new java.util.concurrent.atomic.AtomicLong(0)
    val probeFilters = new java.util.concurrent.atomic.AtomicLong(0)
    val probeFppPpm = new java.util.concurrent.atomic.AtomicLong(0)
    val foldSidecarBytes = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit =
      Seq(plannedSeenBytes, bloomProbeBytes, baseFilesSelected, baseFilesTotal,
        positives, fullFallbacks, probeFilters, probeFppPpm, foldSidecarBytes)
        .foreach(_.set(0))
  }

  /** The probe filters' TOTAL false-positive budget per store: each
    * run filter is sized to its run's exact manifest rows at
    * `BloomFpp / maxRuns`, so the union over ≤ maxRuns filters stays
    * inside the budget and there is no corpus-size knob to outgrow.
    * `ChunkFpp` sizes the PER-CHUNK filters (each to its own chunk's
    * row count): these drive chunk SELECTION, so their fpp bounds the
    * expected spurious chunk reads per batch (positives x chunks x
    * ChunkFpp), not just spurious probe rows. Both filter kinds are
    * WRITE-ONCE; any fpp only trades read amplification, never
    * correctness.
    */
  private val BloomFpp = 0.01
  private val ChunkFpp = 1e-4
  /** Manifest snapshots each fold's expire keeps. */
  private val ExpireKeep = 64

  /** `foldTargetBytes` is the target size of a folded sorted chunk.
    *
    * `maxRuns` caps the number of sorted base RUNS (each fold appends
    * one): when exceeded, [[fold]] merges the smallest runs back to the
    * cap — size-tiered LSM compaction. Per-chunk Blooms already keep
    * READS independent of run count; the cap bounds the probe-filter
    * count (and the union fpp) on an unbounded stream. Merging
    * smallest-first makes run sizes geometric, so a claim is rewritten
    * O(log batches) times over the stream's life — never the
    * linear-in-history write amplification of a fixed-period major
    * compaction.
    *
    * `positivesCap` bounds the filter-positive hashes a probe collects
    * to the driver; past it the probe reads the covered base in full.
    */
  final case class Config(
      positivesCap: Int = 100000,
      foldTargetBytes: Long = 8L * 1024 * 1024,
      maxRuns: Int = 8)

  private def perRunFpp(cfg: Config): Double =
    BloomFpp / math.max(1, cfg.maxRuns)

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

  /** The claims relevant to `batchId`, restricted to batches <
    * `batchId` (a replayed batch must not see its own earlier attempt's
    * claims). Returns a single-column (`hCol`) frame whose intersection
    * with `batchHashes` equals the true seen set — recent batch files
    * contribute fully (they are small), the folded base contributes
    * only filter-positive probes resolved by a manifest-pruned exact
    * check. `batchHashes` must be the batch's distinct claim hashes
    * (callers pin its lineage: it is collected through the probe here
    * and reused in their own joins). None = no earlier claims.
    */
  def seenFor(spark: SparkSession, root: String, batchHashes: DataFrame,
              hCol: String, batchId: Long,
              cfg: Config = Config()): Option[DataFrame] = {
    val snap = SnapTable.snapshot(spark, root).getOrElse(return None)
    val recent = snap.files.filter(e => batchOf(e).exists(_ < batchId))
    val base = snap.files.filter(isBase)
    Metrics.baseFilesTotal.addAndGet(base.size.toLong)
    val reads = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (recent.nonEmpty) {
      Metrics.plannedSeenBytes.addAndGet(recent.map(_.bytes).sum)
      reads += spark.read.parquet(recent.map(_.path): _*)
    }
    if (base.nonEmpty) {
      // Partition the base at RUN granularity by probe-filter coverage:
      // a run with its own immutable filter probes through it; a run
      // without one (crashed filter write, healed by the next fold) is
      // read in full — correctness first.
      val runs = base.groupBy(runOf)
      val covered = Vector.newBuilder[SnapTable.FileEntry]
      val uncovered = Vector.newBuilder[SnapTable.FileEntry]
      val probeBcasts = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.broadcast.Broadcast[Array[Byte]]]
      var probeBytes = 0L
      var fppSum = 0.0
      for ((stamp, fsRun) <- runs) {
        runFilterFor(spark, root, stamp) match {
          case Some(rf) =>
            covered ++= fsRun
            probeBcasts += rf.bcast
            probeBytes += rf.bytes.length.toLong
            fppSum += rf.fpp
          case None => uncovered ++= fsRun
        }
      }
      val coveredV = covered.result()
      val uncoveredV = uncovered.result()
      if (uncoveredV.nonEmpty) {
        Metrics.fullFallbacks.incrementAndGet()
        Metrics.plannedSeenBytes.addAndGet(uncoveredV.map(_.bytes).sum)
        reads += spark.read.parquet(uncoveredV.map(_.path): _*)
      }
      if (coveredV.nonEmpty) {
        Metrics.bloomProbeBytes.addAndGet(probeBytes)
        Metrics.probeFilters.addAndGet(probeBcasts.size.toLong)
        Metrics.probeFppPpm.getAndAccumulate((fppSum * 1e6).toLong,
          (a: Long, b: Long) => math.max(a, b))
        val pos = probePositives(spark, probeBcasts.toSeq, batchHashes, hCol,
          cfg.positivesCap)
        pos match {
          case None =>
            // over the cap: a pathologically duplicate-heavy batch —
            // read the covered base in full (correct, recorded)
            Metrics.fullFallbacks.incrementAndGet()
            Metrics.plannedSeenBytes.addAndGet(coveredV.map(_.bytes).sum)
            reads += spark.read.parquet(coveredV.map(_.path): _*)
          case Some(sorted) if sorted.strs.nonEmpty =>
            Metrics.positives.addAndGet(sorted.strs.length.toLong)
            // Chunk selection: every LSM fold writes a sorted run
            // spanning the FULL hash range, so [lo,hi] bounds alone
            // would select one chunk from EVERY run for any recurring
            // positive — O(runs) reads per batch, growing with fold
            // count (measured 21x seen-bytes growth over 200 batches).
            // The per-chunk Bloom (an SSTable filter block) selects
            // only chunks that actually CONTAIN a positive: reads are
            // bounded by the batch's true duplicate spread plus
            // positives x chunks x ChunkFpp, independent of run count.
            // Bounds first, then the chunk filter: within one run the
            // chunks are range-partitioned (disjoint bounds), so a
            // positive is bounds-candidate in <= 1 chunk per run —
            // <= maxRuns candidates per positive. Only candidates have
            // their filter consulted (lazy-loaded, LRU-cached), so the
            // filters resident per batch are O(positives x maxRuns),
            // never O(chunks in the base). Bounds compares are on
            // UTF-8 bytes — the order Spark's min/max computed them in.
            val picked = coveredV.filter { e =>
              val name = new Path(e.path).getName
              (e.lo, e.hi) match {
                case (Some(l), Some(h)) =>
                  val hb = utf8(h)
                  val i = lowerBound(sorted.bytes, utf8(l))
                  i < sorted.strs.length && cmpUtf8(sorted.bytes(i), hb) <= 0 && {
                    chunkBloomFor(spark, root, name) match {
                      case Some(cb) =>
                        var sel = false; var k = i
                        while (!sel && k < sorted.strs.length &&
                            cmpUtf8(sorted.bytes(k), hb) <= 0) {
                          sel = cb.mightContainString(sorted.strs(k)); k += 1
                        }
                        sel
                      case None => true // no/torn filter: bounds decide
                    }
                  }
                case _ => true // no bounds recorded: must read
              }
            }
            Metrics.baseFilesSelected.addAndGet(picked.size.toLong)
            if (picked.nonEmpty) {
              Metrics.plannedSeenBytes.addAndGet(picked.map(_.bytes).sum)
              reads += spark.read.parquet(picked.map(_.path): _*)
                .where(col(hCol).isInCollection(sorted.strs))
            }
          case _ => // zero positives: the whole base costs zero bytes
        }
      }
    }
    if (reads.isEmpty) None
    else Some(reads.map(_.select(col(hCol))).reduce(_ union _))
  }

  /** Fold the claim files of batches <= `upToBatch` into range-clustered
    * sorted base chunks (ONE atomic rewrite — the base is never read or
    * rewritten, the LSM-append shape), write the new run's immutable
    * probe/selection filters (only the new chunks are read — the fold's
    * sidecar write is O(new claims)), and expire old manifests. Callers
    * pass only COMMITTED batches (`currentBatchId - 1`), mirroring the
    * engine's commit order, so no folded batch can replay.
    */
  def fold(spark: SparkSession, root: String, hCol: String, upToBatch: Long,
           cfg: Config = Config()): Unit = {
    if (upToBatch < 0) return
    val snap = SnapTable.snapshot(spark, root).getOrElse(return)
    val victims = snap.files.filter(e => batchOf(e).exists(_ <= upToBatch))
    if (victims.nonEmpty) {
      val nOut = math.max(1L, victims.map(_.bytes).sum / cfg.foldTargetBytes).toInt
      SnapTable.rewrite(spark, root,
        pick = e => batchOf(e).exists(_ <= upToBatch),
        rewriteAs = identity, // claims are globally distinct by construction
        statsCol = Some(hCol), clusterFiles = nOut, tag = Some("base"))
    }
    mergeRunsOverCap(spark, root, hCol, cfg)
    refreshFilters(spark, root, hCol, cfg)
    SnapTable.expire(spark, root, keepLast = ExpireKeep)
  }

  /** The staging stamp shared by the chunks of one sorted run
    * (`<stamp>-<i>.parquet`, see `SnapTable.stageFiles`).
    */
  private def runOf(e: SnapTable.FileEntry): String =
    new Path(e.path).getName.takeWhile(_ != '-')

  /** Size-tiered run-count cap: each fold appends one sorted run, so a
    * long-lived stream accumulates runs without bound — reads stay flat
    * (the per-chunk Blooms select by content) but the probe is a union
    * over one filter per run and the fold bookkeeping one entry per
    * file. When the base exceeds `maxRuns` runs, merge the SMALLEST
    * runs (by bytes) back down to the cap in one snapshot-isolated
    * rewrite. Smallest-first keeps run sizes geometric — each claim is
    * rewritten O(log batches) times total, the classic size-tiered LSM
    * bound — and the merged run's filters are built by the same
    * [[refreshFilters]] incremental path (only the NEW chunks are
    * read).
    */
  private def mergeRunsOverCap(spark: SparkSession, root: String, hCol: String,
                               cfg: Config): Unit = {
    if (cfg.maxRuns <= 0) return
    val snap = SnapTable.snapshot(spark, root).getOrElse(return)
    val runs = snap.files.filter(isBase).groupBy(runOf)
      .map { case (r, fs) => (r, fs.map(_.bytes).sum) }.toVector
    if (runs.size <= cfg.maxRuns) return
    val victims = runs.sortBy(_._2).take(runs.size - cfg.maxRuns + 1)
      .map(_._1).toSet
    val bytes = runs.filter(r => victims(r._1)).map(_._2).sum
    val nOut = math.max(1L, bytes / cfg.foldTargetBytes).toInt
    SnapTable.rewrite(spark, root,
      pick = e => isBase(e) && victims(runOf(e)),
      rewriteAs = identity,
      statsCol = Some(hCol), clusterFiles = nOut, tag = Some("base"))
    ()
  }

  // ---- filter sidecars ---------------------------------------------------
  //
  // Layout — every filter file is IMMUTABLE, scoped to immutable data,
  // and named after it (the 128-bit staging stamp), so caches never go
  // stale and nothing is rewritten whole:
  //
  //   <root>/bloomruns/<runStamp>.gbf   one PROBE filter per sorted run
  //                                     (blob + CRC32 trailer), sized
  //                                     from the run's exact manifest
  //                                     rows at BloomFpp/maxRuns; the
  //                                     probe is the union over live
  //                                     run filters. Written by the
  //                                     fold that created the run —
  //                                     O(new claims) — and deleted
  //                                     when the run merges away.
  //   <root>/bloomchunks/<chunk>.bf     one SELECTION filter per chunk
  //                                     (same trailer format), prunes
  //                                     chunk selection — the SSTable
  //                                     filter-block layout.
  //
  // Filter files are written tmp+rename AFTER the fold commit; a crash
  // in between leaves a run without its filter, read in full until the
  // next fold heals it. Torn/corrupt content (either kind) fails its
  // CRC or its parse and is deleted + treated as absent — degrading
  // probes to full reads or selection to [lo,hi] bounds, never to a
  // wrong answer.

  private def readFully(f: org.apache.hadoop.fs.FileSystem, p: Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  private def serializeBloom(bf: BloomFilter): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    bf.writeTo(buf)
    buf.toByteArray
  }

  // ---- immutable filter files (shared blob + CRC32-trailer format) ----

  private def chunkDir(root: String) = new Path(root, "bloomchunks")
  private def chunkFilePath(root: String, chunkName: String) =
    new Path(chunkDir(root), s"$chunkName.bf")
  private def runsDir(root: String) = new Path(root, "bloomruns")
  private def runFilePath(root: String, runStamp: String) =
    new Path(runsDir(root), s"$runStamp.gbf")

  /** Blob + 8-byte big-endian CRC32 trailer, tmp+rename. Content is a
    * deterministic function of the (immutable) run/chunk and its fpp,
    * so overwriting a stray existing file is harmless. Returns bytes
    * written (the fold-cost witness).
    */
  private def writeTrailedBlob(f: org.apache.hadoop.fs.FileSystem, dir: Path,
                               name: String, blob: Array[Byte]): Long = {
    f.mkdirs(dir)
    val crc = new java.util.zip.CRC32
    crc.update(blob)
    val trailer = java.nio.ByteBuffer.allocate(8).putLong(crc.getValue).array()
    val tmp = new Path(dir,
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try { out.write(blob); out.write(trailer) } finally out.close()
    val dst = new Path(dir, name)
    f.delete(dst, false)
    require(f.rename(tmp, dst), s"filter publish failed: $tmp -> $dst")
    blob.length.toLong + 8L
  }

  /** Read + CRC-verify a trailed blob; a definitively-corrupt file
    * (short, CRC mismatch) is DELETED so the next fold's existence
    * check recreates it — callers meanwhile degrade, never err.
    * Transient IO errors delete nothing.
    */
  private def readTrailedBlob(f: org.apache.hadoop.fs.FileSystem,
                              p: Path): Option[Array[Byte]] =
    try {
      if (!f.exists(p)) return None
      val all = readFully(f, p)
      if (all.length < 9) { f.delete(p, false); return None } // definitively torn
      val blob = java.util.Arrays.copyOfRange(all, 0, all.length - 8)
      val stored = java.nio.ByteBuffer.wrap(all, all.length - 8, 8).getLong
      val crc = new java.util.zip.CRC32
      crc.update(blob)
      if (crc.getValue == stored) Some(blob)
      else { f.delete(p, false); None }
    } catch {
      // the filesystem's own checksum verification is as definitive as
      // the trailer CRC: delete so the next fold recreates the filter
      case _: org.apache.hadoop.fs.ChecksumException =>
        try f.delete(p, false)
        catch { case scala.util.control.NonFatal(_) => }
        None
      case scala.util.control.NonFatal(_) => None
    }

  // ---- run (probe) filters ---------------------------------------------

  private final case class RunFilter(bytes: Array[Byte], fpp: Double,
                                     bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]])

  /** Run filter files are immutable and uniquely named (128-bit staging
    * stamp), so a loaded+broadcast entry is valid for the driver's
    * lifetime — evicted only when its run merges away or its broadcast
    * died with a restarted SparkContext. An ABSENT file is never
    * cached (the next fold may heal it). The parse here also VALIDATES:
    * CRC-valid garbage is deleted like a torn file.
    */
  private val runFilterCache =
    new java.util.concurrent.ConcurrentHashMap[String, RunFilter]()

  private def runKey(root: String, stamp: String): String =
    s"${new Path(root).toString}#$stamp"

  private def runFilterFor(spark: SparkSession, root: String,
                           stamp: String): Option[RunFilter] = {
    val key = runKey(root, stamp)
    val cached = runFilterCache.get(key)
    if (cached != null) {
      val alive = try { cached.bcast.value; true }
      catch { case scala.util.control.NonFatal(_) => false }
      if (alive) return Some(cached)
      runFilterCache.remove(key, cached)
    }
    val p = runFilePath(root, stamp)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readTrailedBlob(f, p).flatMap { blob =>
      try {
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(blob))
        val rf = RunFilter(blob, bf.expectedFpp(),
          spark.sparkContext.broadcast(blob))
        // putIfAbsent, NOT put: two threads (the stream plus a
        // monitoring seenFor) racing the same miss must converge on one
        // broadcast — put-then-destroy-old would destroy a broadcast
        // the other thread's in-flight probe job is about to read
        val prior = runFilterCache.putIfAbsent(key, rf)
        if (prior != null) {
          try rf.bcast.destroy() // loser tears down its OWN broadcast
          catch { case scala.util.control.NonFatal(_) => }
          Some(prior)
        } else Some(rf)
      } catch {
        case scala.util.control.NonFatal(_) =>
          // CRC-valid but unparseable (sketch-format change): as
          // definitive as a CRC mismatch — delete for the next fold to
          // rebuild; this run degrades to a full read meanwhile
          try f.delete(p, false)
          catch { case scala.util.control.NonFatal(_) => }
          None
      }
    }
  }

  /** Evict a merged-away run's filter. `unpersist`, NOT `destroy`:
    * destroy poisons a broadcast a concurrent monitoring probe may
    * still hold (its task would throw), while unpersist frees executor
    * blocks and lets any in-flight holder lazily re-fetch; the driver
    * copy is reclaimed once the last reference drops.
    */
  private def dropRunFilter(root: String, stamp: String): Unit = {
    val old = runFilterCache.remove(runKey(root, stamp))
    if (old != null) try old.bcast.unpersist(false)
    catch { case scala.util.control.NonFatal(_) => }
  }

  /** Executor-side parse-once cache for broadcast filter blobs, keyed
    * by the VALUE ARRAY'S IDENTITY (each executor holds one cached
    * instance per broadcast, and blobs are immutable) — a WeakHashMap
    * so an entry lives exactly as long as its broadcast value. Keying
    * by broadcast id would be wrong across SparkContext restarts in
    * one JVM (ids restart from 0 and could serve a stale filter).
    */
  private object parsedFilters {
    private val map = new java.util.WeakHashMap[Array[Byte], BloomFilter]()
    def of(bytes: Array[Byte]): BloomFilter = synchronized {
      val c = map.get(bytes)
      if (c != null) c
      else {
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        map.put(bytes, bf)
        bf
      }
    }
  }

  // ---- per-chunk (selection) filters -------------------------------------

  /** Chunk filters touched by recent batches, LRU-evicted on a BYTE
    * budget (an entry-count cap would let driver residency scale with
    * chunk size — 512 filters of 256 MB chunks at fpp 1e-4 is ~10 GB):
    * chunk filter files are immutable AND uniquely named (the 128-bit
    * staging stamp), so a cached parse is never stale — but an ABSENT
    * file is never cached (it may be healed by the next fold).
    */
  private object chunkFilterCache {
    private val maxBytes = 64L * 1024 * 1024
    private val map =
      new java.util.LinkedHashMap[String, (BloomFilter, Long)](64, 0.75f, true)
    private var bytes = 0L
    def get(key: String): Option[BloomFilter] =
      synchronized(Option(map.get(key)).map(_._1))
    def put(key: String, bf: BloomFilter, sz: Long): Unit = synchronized {
      val old = map.put(key, (bf, sz))
      bytes += sz - (if (old != null) old._2 else 0L)
      val it = map.entrySet().iterator()
      // eldest-first; never evict the entry just inserted (an oversized
      // single filter stays resident alone rather than thrashing)
      while (bytes > maxBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { bytes -= e.getValue._2; it.remove() }
      }
    }
  }

  private def chunkBloomFor(spark: SparkSession, root: String,
                            chunkName: String): Option[BloomFilter] = {
    val key = s"${new Path(root).toString}#$chunkName"
    val cached = chunkFilterCache.get(key)
    if (cached.isDefined) return cached
    val p = chunkFilePath(root, chunkName)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readTrailedBlob(f, p).flatMap { arr =>
      // a CRC-valid but unparseable blob (a sketch-format change) must
      // DEGRADE to bounds, not wedge the stream: the parse failure is
      // as definitive as a CRC mismatch, so delete the filter for the
      // next fold to rebuild
      try {
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(arr))
        chunkFilterCache.put(key, bf, arr.length.toLong)
        Some(bf)
      } catch {
        case scala.util.control.NonFatal(_) =>
          try f.delete(p, false)
          catch { case scala.util.control.NonFatal(_) => }
          None
      }
    }
  }

  // ---- fold-time filter maintenance --------------------------------------

  /** Age-gated sweep of filter tmps stranded by a crash between create
    * and rename (this fold's own writes are seconds old at most, and
    * the single-streaming-writer contract means no OTHER writer's
    * in-flight tmp can be live here).
    */
  private def sweepFilterTmps(f: org.apache.hadoop.fs.FileSystem,
                              root: String): Unit = {
    val now = System.currentTimeMillis()
    def sweep(dir: Path, isTmp: String => Boolean): Unit =
      try {
        if (f.exists(dir)) f.listStatus(dir)
          .filter(s => s.isFile && isTmp(s.getPath.getName) &&
            now - s.getModificationTime > 15 * 60 * 1000L)
          .foreach(s => try f.delete(s.getPath, false)
          catch { case scala.util.control.NonFatal(_) => })
      } catch { case scala.util.control.NonFatal(_) => }
    sweep(chunkDir(root), n => n.startsWith(".") && n.contains(".tmp-"))
    sweep(runsDir(root), n => n.startsWith(".") && n.contains(".tmp-"))
  }

  private def listFilterNames(f: org.apache.hadoop.fs.FileSystem, dir: Path,
                              suffix: String): Set[String] =
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.endsWith(suffix) && !n.startsWith("."))
      .map(_.stripSuffix(suffix)).toSet

  /** Bring the filter sidecars up to date with the base: every chunk
    * gets its selection filter FILE and every run its probe filter —
    * reading ONLY chunks that still lack one (in steady state exactly
    * the chunks the fold just wrote: the sidecar write is O(new
    * claims)). Filter files of runs/chunks that left the base (merge
    * victims) are deleted and their caches dropped.
    */
  private def refreshFilters(spark: SparkSession, root: String, hCol: String,
                             cfg: Config): Unit = {
    val snap = SnapTable.snapshot(spark, root).getOrElse(return)
    val base = snap.files.filter(isBase)
    if (base.isEmpty) return
    def name(e: SnapTable.FileEntry): String = new Path(e.path).getName
    val names = base.map(name).toSet
    val runs: Map[String, Vector[SnapTable.FileEntry]] =
      base.toVector.groupBy(runOf)
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    sweepFilterTmps(f, root)
    // ---- chunk selection filters: create missing, sweep departed
    val haveChunk = listFilterNames(f, chunkDir(root), ".bf")
    val chunkBuild = base.filter(e => !haveChunk(name(e)))
    // ---- run probe filters: create missing
    val haveRun = listFilterNames(f, runsDir(root), ".gbf")
    val buildRuns = runs.keysIterator.filterNot(haveRun).toVector
    // resolve unknown row counts for everything to be read, in ONE job
    // (defensive: fold-written chunks always carry exact stats)
    val runChunks = buildRuns.flatMap(runs(_))
    val toRead0 = (chunkBuild ++ runChunks)
      .groupBy(_.path).map(_._2.head).toVector
    val (statful, statless) = toRead0.partition(_.rows >= 0)
    val counted =
      if (statless.isEmpty) Vector.empty[SnapTable.FileEntry]
      else {
        val counts = spark.read.parquet(statless.map(_.path): _*)
          .groupBy(input_file_name().as("fn")).count().collect()
          .map(r => { val fn = r.getString(0)
            fn.substring(fn.lastIndexOf('/') + 1) -> r.getLong(1) }).toMap
        statless.map(e => e.copy(rows = counts.getOrElse(name(e), 16L)))
      }
    val toRead = statful ++ counted
    val rowsOf: Map[String, Long] =
      toRead.map(e => name(e) -> math.max(e.rows, 16L)).toMap
    val runItems: Map[String, Long] = buildRuns.map(r =>
      r -> runs(r).map(e => rowsOf.getOrElse(name(e), math.max(e.rows, 16L))).sum)
      .toMap
    val (chunkBlobs, runBlobs) = buildFilters(spark, toRead, hCol,
      chunkBuild.map(name).toSet, ChunkFpp, runItems, perRunFpp(cfg))
    for (e <- chunkBuild)
      Metrics.foldSidecarBytes.addAndGet(writeTrailedBlob(f, chunkDir(root),
        s"${name(e)}.bf", chunkBlobs.getOrElse(name(e),
          // a chunk whose read yielded no rows: an empty (all-negative)
          // filter is exactly right
          serializeBloom(BloomFilter.create(16, ChunkFpp)))))
    for (r <- buildRuns)
      Metrics.foldSidecarBytes.addAndGet(writeTrailedBlob(f, runsDir(root),
        s"$r.gbf", runBlobs.getOrElse(r,
          serializeBloom(BloomFilter.create(16, perRunFpp(cfg))))))
    // ---- sweep filters of departed chunks/runs
    haveChunk.diff(names).foreach(n => f.delete(chunkFilePath(root, n), false))
    haveRun.diff(runs.keySet).foreach { r =>
      f.delete(runFilePath(root, r), false)
      dropRunFilter(root, r)
    }
  }

  /** Build the missing chunk + run filters in ONE Spark job: all files
    * are read together, each task accumulates PER-FILE and PER-RUN
    * partial filters (keyed by `input_file_name` / its staging-stamp
    * prefix, each sized from manifest row counts so every partial of
    * one key shares a bit width and merges by OR), and the driver
    * folds the partials. A merge fold that produces K chunks costs one
    * job over their bytes instead of K sequential driver-scheduled
    * jobs — the difference between seconds and minutes when a
    * size-tiered merge rewrites many chunks at once. Build and probe
    * use the same sketch primitives (`putString`/`mightContainString`),
    * so no false negative is possible by construction; the exact check
    * still resolves false positives.
    */
  private def buildFilters(spark: SparkSession,
                           files: Seq[SnapTable.FileEntry], hCol: String,
                           chunkTargets: Set[String], chunkFpp: Double,
                           runItems: Map[String, Long], runFpp: Double)
      : (Map[String, Array[Byte]], Map[String, Array[Byte]]) = {
    if (files.isEmpty || (chunkTargets.isEmpty && runItems.isEmpty))
      return (Map.empty, Map.empty)
    val rowsByName: Map[String, Long] =
      files.map(e => new Path(e.path).getName -> math.max(e.rows, 16L)).toMap
    val bc = spark.sparkContext.broadcast(
      (rowsByName, chunkTargets, runItems, chunkFpp, runFpp))
    val partials = spark.read.parquet(files.map(_.path): _*)
      .select(col(hCol).cast("string"), input_file_name())
      .rdd.mapPartitions { it =>
        val (rows, cts, rts, cf, rf) = bc.value
        val accC = scala.collection.mutable.HashMap.empty[String, BloomFilter]
        val accR = scala.collection.mutable.HashMap.empty[String, BloomFilter]
        it.foreach { r =>
          val fn = r.getString(1)
          val nm = fn.substring(fn.lastIndexOf('/') + 1)
          val h = r.getString(0)
          if (h != null) {
            if (cts(nm))
              accC.getOrElseUpdate(nm, BloomFilter.create(rows(nm), cf)).putString(h)
            val stamp = nm.takeWhile(_ != '-')
            if (rts.contains(stamp))
              accR.getOrElseUpdate(stamp, BloomFilter.create(rts(stamp), rf)).putString(h)
          }
        }
        accC.iterator.map { case (nm, bf) => ((0: Byte, nm), serializeBloom(bf)) } ++
          accR.iterator.map { case (st, bf) => ((1: Byte, st), serializeBloom(bf)) }
      }.collect()
    bc.destroy() // one broadcast per fold otherwise outlives the stream
    def mergeKind(kind: Byte): Map[String, Array[Byte]] =
      partials.iterator.filter(_._1._1 == kind).toSeq.groupBy(_._1._2)
        .map { case (k, parts) =>
          val merged = BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(parts.head._2))
          parts.iterator.drop(1).foreach(p => merged.mergeInPlace(
            BloomFilter.readFrom(new java.io.ByteArrayInputStream(p._2))))
          k -> serializeBloom(merged)
        }
    (mergeKind(0), mergeKind(1))
  }

  // ---- probe -------------------------------------------------------------

  /** Positives sorted in UTF-8 byte order (the order manifest bounds
    * were computed in), with the encodings kept for bounds compares.
    */
  private final class Positives(val strs: Array[String],
                                val bytes: Array[Array[Byte]])

  /** Probe the batch hashes through the union of the probe filters;
    * Some(sorted positives) or None when they exceed `cap` (caller
    * falls back to a full read).
    */
  private def probePositives(spark: SparkSession,
                             filters: Seq[org.apache.spark.broadcast.Broadcast[Array[Byte]]],
                             batchHashes: DataFrame, hCol: String,
                             cap: Int): Option[Positives] = {
    val bcs = filters.toArray
    val pos = batchHashes.select(col(hCol).cast("string"))
      .as[String](Encoders.STRING)
      .mapPartitions { it =>
        // callers skip a pre-distinct shuffle over the WHOLE batch;
        // dedupe per partition so a hot hash (a line present in every
        // doc) cannot flood downstream — the emitted set is bounded
        // by the partition's distinct filter-positive hashes. Each
        // blob parses once per executor (parsedFilters), not per task.
        val bfs = bcs.map(bc => parsedFilters.of(bc.value))
        val seen = new java.util.HashSet[String]()
        it.filter { h =>
          h != null && seen.add(h) && {
            var i = 0; var hit = false
            while (!hit && i < bfs.length) {
              hit = bfs(i).mightContainString(h); i += 1
            }
            hit
          }
        }
      }(Encoders.STRING)
      // distinct BEFORE the cap decision: the cap must measure
      // DISTINCT positives, or a previously-claimed hash appearing in
      // every partition (boilerplate) counts once per partition and
      // trips a spurious full-base fallback. This shuffles only the
      // positives (true duplicates + fpp), never the batch.
      .distinct()
      .limit(cap + 1).collect()
    if (pos.length > cap) None
    else {
      val paired = pos.map(s => (utf8(s), s))
        .sortWith((a, b) => cmpUtf8(a._1, b._1) < 0)
      Some(new Positives(paired.map(_._2), paired.map(_._1)))
    }
  }

  // ---- UTF-8 byte order (matches UTF8String min/max in manifests) -------

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def cmpUtf8(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** First index i with xs(i) >= key (xs sorted in UTF-8 byte order). */
  private def lowerBound(xs: Array[Array[Byte]], key: Array[Byte]): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmpUtf8(xs(mid), key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}
