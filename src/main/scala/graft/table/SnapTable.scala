package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A from-scratch snapshot-manifest table layer over parquet — the
  * engine's stand-in for the Iceberg catalog this sandbox cannot ship
  * (no Iceberg jars; re-checked every round, README "Iceberg note").
  * It provides the SEMANTICS the north star names, implemented from
  * the public table-format playbook (the Iceberg spec and Delta log
  * papers are the published references; this is an original, minimal
  * design — not a port):
  *
  *  - **Atomic commits**: a snapshot is one JSON manifest listing the
  *    table's data files. Committing = writing `snap-<v>.json` via
  *    temp-file + rename guarded by a no-clobber check — the commit
  *    CAS. Two writers racing to version v: exactly one wins, the
  *    loser re-derives from the winner's manifest and retries at v+1
  *    (optimistic concurrency, Iceberg-style). Within one JVM the CAS
  *    is additionally serialized on an intrinsic lock, which makes
  *    local-mode (this sandbox's deployment shape) fully safe;
  *    cross-process safety inherits the filesystem's rename contract
  *    (atomic no-clobber on HDFS — the same reliance Iceberg's
  *    HadoopTableOperations documents).
  *  - **Snapshot isolation**: readers resolve a committed manifest
  *    ONCE and read exactly its file list. Concurrent appends,
  *    overwrites and compactions are invisible — no torn reads, and a
  *    [[rewrite]] never shows a reader old and new files mid-swap.
  *  - **Time travel**: manifests are retained until [[expire]];
  *    `read(asOf = Some(v))` reproduces any historical state.
  *  - **Resumable checkpoints**: every commit records an application
  *    `watermark` (e.g. last ingested doc_id / batch id);
  *    [[lastWatermark]] lets a restarting job resume exactly after its
  *    last COMMITTED snapshot — the "resume from Iceberg snapshot
  *    checkpoints" shape of the north star. A writer crash before
  *    commit leaves only orphan stage files, never a torn table.
  *
  * Scale shape: manifests hold file-level metadata only (path, rows,
  * bytes, per-file min/max of an optional partition/sort column) —
  * never data, and every manifest lists the table's COMPLETE file set,
  * so any snapshot resolves with one point read. The manifest write is
  * O(table files) per commit; the tables the engine writes hold a few
  * dozen files, where that is one small local write. Delta chains
  * with periodic checkpoints (the Delta Lake log answer) pay off only
  * when an object store makes that write the commit's cost. [[read]]'s
  * bounds pruning drops files manifest-side before Spark lists
  * anything. Data files are immutable and uuid-named, so writers never
  * conflict on data — only on the manifest CAS.
  *
  * Determinism: snapshot ids are dense sequence numbers (no wall
  * clock); manifests serialize file lists sorted by path.
  */
object SnapTable {

  /** One data file's manifest entry. `lo`/`hi` are `CAST(col AS
    * STRING)` bounds of the table's stats column when one was declared
    * at write time (callers parse them back — e.g. `.toInt` for a
    * bucket id — so numeric pruning is not fooled by lexicographic
    * order). `tag` is an opaque caller label carried per file across
    * commits (e.g. the micro-batch id that appended it — the
    * [[graft.streaming.ClaimStore]] replay guard); absent in
    * pre-tag manifests, which parse as None.
    */
  case class FileEntry(path: String, rows: Long, bytes: Long,
                       lo: Option[String], hi: Option[String],
                       tag: Option[String] = None)

  /** One committed snapshot: dense id, the producing operation, the
    * table's COMPLETE file list after this commit, and the application
    * watermark at commit time.
    */
  case class Snapshot(id: Long, op: String, files: Vector[FileEntry],
                      watermark: Option[String])

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def metaDir(root: String) = new Path(root, "meta")
  private def dataDir(root: String) = new Path(root, "data")
  private def snapPath(root: String, v: Long) =
    new Path(metaDir(root), f"snap-$v%08d.json")

  // ---- manifest (de)serialization (graft.json AST: arbitrary string
  // content in paths/bounds/watermarks round-trips safely) -------------

  import graft.json.{JArr, JNull, JNum, JObj, JStr, JValue, Json}

  private def jOpt(o: Option[String]): JValue = o.map(JStr(_): JValue).getOrElse(JNull)
  private def jStr(v: JValue): Option[String] =
    v match { case JStr(x) => Some(x); case _ => None }
  private def jNum(v: JValue): Long = v.asInstanceOf[JNum].literal.toLong

  private def render(s: Snapshot): String =
    JObj.of(
      "id" -> Json.num(s.id),
      "op" -> JStr(s.op),
      "watermark" -> jOpt(s.watermark),
      "files" -> JArr(s.files.sortBy(_.path).map(f => JObj.of(
        "path" -> JStr(f.path), "rows" -> Json.num(f.rows),
        "bytes" -> Json.num(f.bytes),
        "lo" -> jOpt(f.lo), "hi" -> jOpt(f.hi),
        "tag" -> jOpt(f.tag)): JValue))).render

  private def parse(json: String): Snapshot = {
    val o = Json.parse(json).asInstanceOf[JObj]
    val files = o("files").asInstanceOf[JArr].items.map { fv =>
      val f = fv.asInstanceOf[JObj]
      FileEntry(jStr(f("path")).getOrElse(
          throw new IllegalArgumentException("manifest file entry missing path")),
        jNum(f("rows")), jNum(f("bytes")), jStr(f("lo")), jStr(f("hi")),
        jStr(f("tag")))
    }
    Snapshot(jNum(o("id")), jStr(o("op")).getOrElse(""), files, jStr(o("watermark")))
  }

  // ---- snapshot resolution -------------------------------------------

  /** All committed snapshot ids, ascending (`.tmp`s from interrupted
    * commits are ignored — a crash mid-commit leaves no torn state).
    */
  def snapshotIds(spark: SparkSession, root: String): Seq[Long] = {
    val md = metaDir(root)
    val f = fs(spark, md)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).map(_.getPath.getName)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("snap-").stripSuffix(".json"))
      // a stray non-numeric name (an operator's snap-7.bak.json copy)
      // must not brick every read/commit/expire of the table; every
      // other parse path here degrades rather than throws
      .filter(m => m.nonEmpty && m.length <= 18 && m.forall(_.isDigit))
      .map(_.toLong)
      .sorted.toSeq
  }

  /** Manifest file layout: line 1 = the snapshot JSON, line 2 =
    * `crc:<crc32 of line 1>`. The CRC detects a torn write on
    * filesystems whose rename is NOT atomic (S3-style): a reader that
    * sees a partial manifest treats it as uncommitted instead of
    * failing — the same stance Iceberg takes (its manifests are only
    * valid once the catalog points at them).
    */
  private def renderFile(s: Snapshot): Array[Byte] = {
    val json = render(s)
    val crc = new java.util.zip.CRC32
    crc.update(json.getBytes("UTF-8"))
    s"$json\ncrc:${crc.getValue}\n".getBytes("UTF-8")
  }

  /** Parse a manifest if structurally sound AND its CRC matches; None
    * for torn/corrupt content.
    */
  private def readSnap(spark: SparkSession, root: String, v: Long): Option[Snapshot] =
    try {
      val p = snapPath(root, v)
      val in = fs(spark, p).open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = content.split("\n", -1)
      val json = lines(0)
      val crc = new java.util.zip.CRC32
      crc.update(json.getBytes("UTF-8"))
      val ok = lines.find(_.startsWith("crc:"))
        .exists(_.stripPrefix("crc:").trim == crc.getValue.toString)
      if (ok) Some(parse(json)) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The snapshot record for `asOf` (default: latest committed). None
    * for an empty/nonexistent table; IllegalArgumentException for an
    * explicit `asOf` that was never committed or has been expired.
    * With no `asOf`, torn/corrupt manifests (non-atomic-rename
    * filesystems) are skipped — the latest PARSEABLE snapshot is the
    * committed state.
    */
  def snapshot(spark: SparkSession, root: String,
               asOf: Option[Long] = None): Option[Snapshot] = {
    asOf match {
      case Some(v) =>
        val ids = snapshotIds(spark, root)
        require(ids.contains(v),
          s"no snapshot $v in $root (have ${ids.mkString(",")})")
        Some(readSnap(spark, root, v).getOrElse(
          throw new IllegalArgumentException(s"snapshot $v in $root is corrupt")))
      case None => latestParseable(spark, root, snapshotIds(spark, root))
    }
  }

  /** The newest parseable snapshot in `ids` — the single definition of
    * "the committed head steps over torn manifests", shared by reads
    * and the commit protocol.
    */
  private def latestParseable(spark: SparkSession, root: String,
                              ids: Seq[Long]): Option[Snapshot] =
    ids.reverseIterator.flatMap(v => readSnap(spark, root, v)).nextOption()

  /** The application watermark of the latest committed snapshot — a
    * restarting writer's resume point.
    */
  def lastWatermark(spark: SparkSession, root: String): Option[String] =
    snapshot(spark, root).flatMap(_.watermark)

  // ---- commit protocol -----------------------------------------------

  private val jvmLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Publish `tmp` at `dst` with a TRUE no-clobber — the commit CAS.
    * Hadoop's local-filesystem rename is File.renameTo, which silently
    * OVERWRITES an existing destination, so the old `exists() + rename`
    * was only a CAS between threads of one JVM (serialized by
    * [[jvmLocks]] anyway): two separate local processes racing version v
    * could both "win" and the later one clobber the earlier commit. On
    * `file:` a POSIX hard link is the primitive that fails atomically
    * (EEXIST) when the target exists; elsewhere
    * `FileContext.rename(Options.Rename.NONE)` is the enforced
    * no-clobber contract (atomic on HDFS). The `exists` probe first is
    * just a fast path for the common lost race.
    */
  private[graft] def publishNoClobber(f: FileSystem, spark: SparkSession,
                                      tmp: Path, dst: Path): Boolean = {
    if (f.exists(dst)) return false
    val scheme = Option(f.makeQualified(dst).toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // local mount without hard links (FAT, some NFS): degrade to
          // the weaker exists+rename CAS (same-JVM racers stay
          // serialized by jvmLocks; cross-process no-clobber is then
          // only as strong as the mount's rename)
          !f.exists(dst) && f.rename(tmp, dst)
      }
    } else {
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.makeQualified(dst).toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no AbstractFileSystem binding for this scheme (e.g. s3a
          // without fs.AbstractFileSystem.s3a.impl): degrade to the
          // FileSystem-level guarded rename rather than making every
          // commit crash — document the weaker cross-process CAS
          !f.exists(dst) && f.rename(tmp, dst)
      }
    }
  }

  /** Commit v = parent+1 via tmp + no-clobber rename; on CAS loss
    * (someone else committed v first) re-derive against the winner and
    * retry. `make` sees the parent snapshot (None on first commit) and
    * returns (op, full file list, watermark).
    */
  private def commit(spark: SparkSession, root: String)
                    (make: Option[Snapshot] => (String, Vector[FileEntry], Option[String])): Snapshot = {
    val lock = jvmLocks.computeIfAbsent(new Path(root).toString, _ => new Object)
    lock.synchronized {
      val f = fs(spark, metaDir(root))
      f.mkdirs(metaDir(root))
      var attempts = 0
      while (attempts < 100) {
        attempts += 1
        // parent and version from ONE listing — reading them separately
        // opens a lost-update window (a commit landing between the two
        // reads would win a fresh slot with a stale parent). The head of
        // the SAME listing also lets a torn manifest (non-atomic rename)
        // be stepped over instead of CAS-looped on; any commit racing
        // past this listing still collides on the no-clobber rename at
        // the same v and forces a retry.
        val idsNow = snapshotIds(spark, root)
        val v = idsNow.lastOption.getOrElse(0L) + 1
        val (op, files, wm) = make(latestParseable(spark, root, idsNow))
        val snap = Snapshot(v, op, files, wm)
        val tmp = new Path(metaDir(root),
          f"snap-$v%08d.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        val out = f.create(tmp, true)
        try out.write(renderFile(snap)) finally out.close()
        // the CAS: never clobber an existing snap-<v>.json (hard-link
        // EEXIST on local, no-clobber FileContext rename elsewhere;
        // same-JVM racers are additionally serialized above)
        if (publishNoClobber(f, spark, tmp, snapPath(root, v))) return snap
        f.delete(tmp, false) // lost: retry against the new parent
      }
      throw new IllegalStateException(
        s"commit contention on $root: gave up after 100 CAS attempts")
    }
  }

  /** Append `df` as new immutable data files. `statsCol`: record
    * per-file min/max of this column for manifest-side pruning (the
    * writer range-clusters on it so bounds are tight).
    */
  /** `exactStats = false` skips the post-write stats job (per-file row
    * counts come back as -1 "unknown"): the total row count is observed
    * INSIDE the write job, so the empty-append-is-a-watermark-bump rule
    * still holds, at one Spark job per append instead of two. For
    * high-frequency small appends (the streaming claim stores) the
    * saved job is the dominant fixed cost; tables whose consumers read
    * manifest row counts should keep the default.
    */
  def append(spark: SparkSession, root: String, df: DataFrame,
             watermark: Option[String] = None,
             statsCol: Option[String] = None,
             clusterFiles: Int = 0,
             tag: Option[String] = None,
             exactStats: Boolean = true): Snapshot = {
    val staged = stageFiles(spark, root, df, statsCol, clusterFiles, tag, exactStats)
    commit(spark, root) { parent =>
      ("append", parent.map(_.files).getOrElse(Vector.empty) ++ staged,
        watermark.orElse(parent.flatMap(_.watermark)))
    }
  }

  /** Atomically replace the whole table content. */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
                watermark: Option[String] = None,
                statsCol: Option[String] = None,
                clusterFiles: Int = 0,
                tag: Option[String] = None): Snapshot = {
    val staged = stageFiles(spark, root, df, statsCol, clusterFiles, tag)
    commit(spark, root) { parent =>
      // content is replaced, but the resume point persists unless the
      // caller sets a new one — a manual overwrite must never silently
      // reset a streaming writer's exactly-once watermark
      ("overwrite", staged, watermark.orElse(parent.flatMap(_.watermark)))
    }
  }

  /** Snapshot-isolated compaction/rewrite: atomically replace the
    * files selected by `pick` with `rewriteAs(their rows)` — e.g. fold
    * many small files into few sorted ones. Readers of the pre-rewrite
    * snapshot keep a consistent view throughout. If a concurrent
    * commit removed one of the picked files first, the rewrite aborts
    * cleanly (None, staged orphans deleted) instead of resurrecting
    * dropped data.
    */
  def rewrite(spark: SparkSession, root: String,
              pick: FileEntry => Boolean,
              rewriteAs: DataFrame => DataFrame,
              statsCol: Option[String] = None,
              clusterFiles: Int = 0,
              tag: Option[String] = None): Option[Snapshot] = {
    val before = snapshot(spark, root).getOrElse(return None)
    val victims = before.files.filter(pick)
    if (victims.isEmpty) return None
    val rewritten = rewriteAs(spark.read.parquet(victims.map(_.path): _*))
    val staged = stageFiles(spark, root, rewritten, statsCol, clusterFiles, tag)
    val victimSet = victims.map(_.path).toSet
    try {
      Some(commit(spark, root) { parent =>
        val p = parent.getOrElse(
          throw new IllegalStateException("table vanished under rewrite"))
        require(victimSet.subsetOf(p.files.map(_.path).toSet),
          "rewrite aborted: a concurrent commit removed a picked file")
        ("rewrite", p.files.filterNot(e => victimSet(e.path)) ++ staged,
          p.watermark)
      })
    } catch {
      case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.contains("rewrite aborted") =>
        val f = fs(spark, dataDir(root))
        staged.foreach(s => f.delete(new Path(s.path), false))
        None
    }
  }

  /** Read at the latest (or `asOf`) snapshot. `prune(lo, hi)`: called
    * for files with recorded bounds; return false to skip the file.
    * Files without bounds are always read (safe).
    */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None,
           prune: Option[(String, String) => Boolean] = None): DataFrame = {
    val snap = snapshot(spark, root, asOf).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot in $root"))
    val files = prune match {
      case Some(p) => snap.files.filter(f =>
        (f.lo, f.hi) match { case (Some(l), Some(h)) => p(l, h); case _ => true })
      case None => snap.files
    }
    if (files.nonEmpty) spark.read.parquet(files.map(_.path): _*)
    else if (snap.files.nonEmpty)
      // everything pruned away — a valid empty result; keep the schema
      // by reading one live file's footer with a false predicate
      spark.read.parquet(snap.files.head.path).where(lit(false))
    else throw new IllegalArgumentException(
      s"snapshot ${snap.id} of $root has no data files (schema unknowable)")
  }

  /** Drop all but the newest `keepLast` manifests, delete data files no
    * RETAINED snapshot references (safe GC — a file goes only when
    * every retained manifest agrees it is dead), then sweep ORPHANS:
    * data files referenced by NO retained manifest and `.stage-*` dirs,
    * both older than `orphanGraceMs`. Orphans come from a writer that
    * crashed between staging its uuid-named files and winning the
    * manifest CAS — they are invisible to readers (manifests are the
    * source of truth) but would otherwise accumulate in `data/`
    * forever, one batch's worth per crash. The age gate protects a
    * LIVE concurrent writer's staged-but-not-yet-committed files;
    * Iceberg's `remove_orphan_files` uses the same contract.
    */
  def expire(spark: SparkSession, root: String, keepLast: Int,
             orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    require(keepLast >= 1, "keepLast must be >= 1")
    // Retention counts PARSEABLE snapshots only. A torn manifest must
    // never occupy a keep slot — counting it would let its empty file
    // list shadow real data below it and GC live files. Each manifest
    // is parsed ONCE (remote filesystems pay per round-trip).
    val allIds = snapshotIds(spark, root)
    val snaps: Map[Long, Snapshot] =
      allIds.flatMap(v => readSnap(spark, root, v).map(v -> _)).toMap
    val parseable = allIds.filter(snaps.contains)
    val (drop, keep) = parseable.splitAt(math.max(0, parseable.length - keepLast))
    val f = fs(spark, dataDir(root))
    val live: Set[String] = keep.flatMap(v => snaps(v).files.map(_.path)).toSet
    drop.foreach { v =>
      snaps(v).files.filterNot(e => live(e.path))
        .foreach(e => f.delete(new Path(e.path), false))
      f.delete(snapPath(root, v), false)
    }
    // Torn-manifest sweep, regardless of whether anything was dropped:
    // a torn id BELOW the latest parseable snapshot lost its slot to a
    // newer committed head — it can never become committed state
    // (commits step over it; the version is burned), so delete the
    // manifest (it references no known files). A torn id ABOVE the
    // latest parseable may be a slow in-flight publish on a
    // non-atomic-rename filesystem: delete only past the same age gate
    // that protects staged data files. A mid-copy writer racing a
    // delete may resurrect the file as a parseable orphan — harmless to
    // readers (never the latest) and swept by the NEXT expire as an old
    // parseable id.
    val now = System.currentTimeMillis()
    val maxParseable = parseable.lastOption.getOrElse(Long.MinValue)
    allIds.filterNot(snaps.contains).foreach { v =>
      val p = snapPath(root, v)
      val oldEnough =
        try now - f.getFileStatus(p).getModificationTime > orphanGraceMs
        catch { case scala.util.control.NonFatal(_) => false }
      if (v < maxParseable || oldEnough) f.delete(p, false)
    }
    // orphan sweep — compare by file NAME (uuid-stamped, unique within
    // data/): manifests may record unqualified paths while listStatus
    // returns fully-qualified ones
    val liveNames: Set[String] = live.map(p => new Path(p).getName)
    val dd = dataDir(root)
    if (f.exists(dd)) f.listStatus(dd).foreach { s =>
      if (s.isFile && !liveNames(s.getPath.getName) &&
          now - s.getModificationTime > orphanGraceMs)
        f.delete(s.getPath, false)
    }
    val rootP = new Path(root)
    if (f.exists(rootP)) f.listStatus(rootP).foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith(".stage-") &&
          now - s.getModificationTime > orphanGraceMs)
        f.delete(s.getPath, true)
    }
    // manifest tmps stranded in meta/ by a crash mid-publish are
    // irrelevant the moment their writer dies, so age is the only guard
    // needed
    val md = metaDir(root)
    if (f.exists(md)) f.listStatus(md).foreach { s =>
      if (s.isFile && s.getPath.getName.contains(".json.tmp-") &&
          now - s.getModificationTime > orphanGraceMs)
        f.delete(s.getPath, false)
    }
  }

  // ---- data file staging ---------------------------------------------

  /** Write `df` to uuid-named immutable files under `data/` and return
    * manifest entries. With `statsCol` the rows are range-clustered on
    * it first (tight per-file bounds); rows + bounds come from ONE
    * stats job over the staged files.
    */
  private def stageFiles(spark: SparkSession, root: String, df: DataFrame,
                         statsCol: Option[String],
                         clusterFiles: Int,
                         tag: Option[String] = None,
                         exactStats: Boolean = true): Vector[FileEntry] = {
    // contradictory, so reject loudly: per-file [lo,hi] bounds ARE the
    // stats job — a caller asking for bounds cannot also skip it, and
    // silently running the job anyway would hide the cost it asked to
    // avoid
    require(exactStats || statsCol.isEmpty,
      "exactStats=false cannot honor statsCol: per-file bounds require the stats job")
    val f = fs(spark, dataDir(root))
    f.mkdirs(dataDir(root))
    // full 128-bit stamp (no '-' so the run prefix is the segment before
    // the first dash): data file names are relied on to NEVER recur —
    // the orphan sweep above compares by name — and a truncated stamp
    // makes reuse a birthday problem, not an impossibility
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "")
    val stage = new Path(root, s".stage-$stamp")
    // clusterFiles > 0 pins the output file count (an explicit
    // repartition width is a hard constraint AQE will not coalesce);
    // 0 lets Spark/AQE size the files; < 0 means the caller already
    // partitioned `df` the way it wants the files laid out (e.g. the
    // one-file-per-pred-bucket triples shape) — keep it, record bounds only
    val toWrite = statsCol match {
      case Some(c) if clusterFiles > 0 =>
        df.repartitionByRange(clusterFiles, col(c)).sortWithinPartitions(col(c))
      case Some(c) if clusterFiles == 0 =>
        df.repartitionByRange(col(c)).sortWithinPartitions(col(c))
      case Some(_) => df
      case None if clusterFiles > 0 => df.repartition(clusterFiles)
      case None => df
    }
    val fastPath = !exactStats && statsCol.isEmpty
    val obs = new org.apache.spark.sql.Observation()
    val observed =
      if (fastPath) toWrite.observe(obs, count(lit(1)).as("n")) else toWrite
    observed.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val staged = f.listStatus(stage).toVector
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val entries = staged.zipWithIndex.map { case (s, i) =>
      val dest = new Path(dataDir(root), f"$stamp-$i%05d.parquet")
      require(f.rename(s.getPath, dest), s"stage move failed: ${s.getPath}")
      FileEntry(dest.toString, -1L, s.getLen, None, None, tag)
    }
    f.delete(stage, true)
    if (entries.isEmpty) return entries
    if (fastPath) {
      // row total observed inside the write job — zero extra jobs. An
      // all-empty result still commits as a pure watermark bump; a
      // nonempty one keeps every staged file (a stray zero-row part
      // file costs one footer read, never a wrong answer).
      val n = obs.get("n").asInstanceOf[Long]
      if (n == 0L) {
        entries.foreach(e => f.delete(new Path(e.path), false))
        return Vector.empty
      }
      return entries
    }
    // one stats job: per-file row count (+ bounds when statsCol set)
    val base = spark.read.parquet(entries.map(_.path): _*)
      .groupBy(input_file_name().as("_f"))
    val stats = (statsCol match {
      case Some(c) => base.agg(count(lit(1)).as("_n"),
        min(col(c)).cast("string").as("_lo"), max(col(c)).cast("string").as("_hi"))
      case None => base.agg(count(lit(1)).as("_n"),
        lit(null).cast("string").as("_lo"), lit(null).cast("string").as("_hi"))
    }).collect().map(r => new Path(r.getString(0)).getName ->
      ((r.getLong(1), Option(r.getString(2)), Option(r.getString(3))))).toMap
    val (live, empty) = entries.map { e =>
      stats.get(new Path(e.path).getName) match {
        case Some((n, lo, hi)) => e.copy(rows = n, lo = lo, hi = hi)
        case None => e.copy(rows = 0L) // empty parquet file: no groups
      }
    }.partition(_.rows > 0)
    // zero-row files never enter a manifest (an empty append is a pure
    // watermark bump, not a data-file add)
    empty.foreach(e => f.delete(new Path(e.path), false))
    live
  }
}
