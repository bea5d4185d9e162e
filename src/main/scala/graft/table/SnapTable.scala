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
  *  - **Resumable checkpoints with lineage**: every commit records an
  *    application `watermark` (e.g. last ingested doc_id / batch id)
  *    plus added/removed file lineage; [[lastWatermark]] lets a
  *    restarting job resume exactly after its last COMMITTED snapshot
  *    — the "resume from Iceberg snapshot checkpoints" shape of the
  *    north star. A writer crash before commit leaves only orphan
  *    stage files, never a torn table.
  *
  * Scale shape: manifests hold file-level metadata only (path, rows,
  * bytes, per-file min/max of an optional partition/sort column) —
  * never data. A 10^12-row table at 128MB files is a few-MB CHECKPOINT
  * manifest, and commits in between write DELTA manifests (added
  * entries + removed paths against the parent) so the per-commit
  * metadata write is O(the commit), not O(the table) — the Delta-log/
  * Iceberg-manifest-list answer, amortized O(delta + files/K) at
  * `checkpointEvery` = K. [[read]]'s bounds pruning drops files
  * manifest-side before Spark lists anything. Data files are immutable
  * and uuid-named, so writers never conflict on data — only on the
  * manifest CAS.
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

  /** One committed snapshot: dense id, the COMPLETE (resolved) file
    * list after this commit, the producing operation, added/removed
    * lineage, and the application watermark at commit time. `depth` is
    * the snapshot's position in its delta chain — 0 means the on-disk
    * manifest is a full CHECKPOINT listing every file; > 0 means it is
    * a DELTA (added entries + removed paths against its parent),
    * resolved transparently on read.
    */
  case class Snapshot(id: Long, op: String, files: Vector[FileEntry],
                      added: Vector[String], removed: Vector[String],
                      watermark: Option[String], depth: Int = 0)

  /** Write a full checkpoint manifest every `checkpointEvery`-th commit
    * and DELTAS in between: a full manifest lists the table's every
    * live file, so writing one per commit is an O(table) term in the
    * commit path — linear in table size no matter how small the commit
    * (the Delta-Lake/Iceberg-manifest-list problem). With deltas the
    * amortized manifest write is O(commit delta + files/K); readers
    * resolve a snapshot from its nearest checkpoint plus at most K-1
    * deltas (point reads). 1 restores the legacy every-manifest-full
    * behavior. Var (private[graft]) so tests can tighten the chain.
    */
  @volatile private[graft] var checkpointEvery: Int = 10

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

  /** The on-disk manifest record. `depth == 0`: a full checkpoint —
    * `files` is the table's complete list (byte-identical to the
    * pre-delta manifest format, so legacy manifests parse as
    * checkpoints and new checkpoints stay legacy-readable). `depth >
    * 0`: a delta — `files` holds ONLY the entries this commit added,
    * `removed` the paths it dropped, `parent` the previous parseable
    * snapshot; the complete list is resolved by walking to the nearest
    * checkpoint (≤ checkpointEvery-1 point reads).
    */
  private final case class RawManifest(id: Long, op: String,
                                       files: Vector[FileEntry],
                                       added: Vector[String],
                                       removed: Vector[String],
                                       watermark: Option[String],
                                       parent: Option[Long], depth: Int)

  private def jFiles(files: Vector[FileEntry]): JValue =
    JArr(files.sortBy(_.path).map(f => JObj.of(
      "path" -> JStr(f.path), "rows" -> Json.num(f.rows),
      "bytes" -> Json.num(f.bytes),
      "lo" -> jOpt(f.lo), "hi" -> jOpt(f.hi),
      "tag" -> jOpt(f.tag)): JValue))

  private def render(s: RawManifest): String = {
    val head = Vector[(String, JValue)](
      "id" -> Json.num(s.id),
      "op" -> JStr(s.op),
      "watermark" -> jOpt(s.watermark))
    // A checkpoint keeps the exact pre-delta byte format. A DELTA uses
    // a DIFFERENT files key ("adds"): a pre-delta binary sharing the
    // root would otherwise parse the delta's partial files array as the
    // complete table — silently truncated reads and an old-binary
    // expire GC'ing live files. With the renamed key the old parser
    // fails on the missing "files" and treats the delta as torn —
    // stale-but-consistent reads, never a truncated view. "added" is
    // also omitted from deltas: it is exactly adds.map(_.path),
    // reconstructed at parse (paths dominate manifest bytes; writing
    // each twice would double the artifact this format exists to keep
    // O(commit)-small).
    val body =
      if (s.depth == 0) Vector[(String, JValue)](
        "added" -> JArr(s.added.sorted.map(JStr(_): JValue)),
        "removed" -> JArr(s.removed.sorted.map(JStr(_): JValue)),
        "files" -> jFiles(s.files))
      else Vector[(String, JValue)](
        "removed" -> JArr(s.removed.sorted.map(JStr(_): JValue)),
        "depth" -> Json.num(s.depth.toLong),
        "parent" -> Json.num(s.parent.getOrElse(
          throw new IllegalStateException("delta manifest without parent"))),
        "adds" -> jFiles(s.files))
    JObj.of((head ++ body): _*).render
  }

  private def parse(json: String): RawManifest = {
    val o = Json.parse(json).asInstanceOf[JObj]
    def arr(v: JValue): Vector[String] = v.asInstanceOf[JArr].items.flatMap(jStr)
    def fileArr(v: JValue): Vector[FileEntry] = v.asInstanceOf[JArr].items.map { fv =>
      val f = fv.asInstanceOf[JObj]
      FileEntry(jStr(f("path")).getOrElse(
          throw new IllegalArgumentException("manifest file entry missing path")),
        jNum(f("rows")), jNum(f("bytes")), jStr(f("lo")), jStr(f("hi")),
        jStr(f("tag")))
    }
    val depth = o.get("depth").map(jNum(_).toInt).getOrElse(0)
    // forged/corrupt structure degrades to unparseable (torn), never to
    // a partial view served as complete: a negative/absent-parent delta
    // must not skip the resolution walk
    require(depth >= 0, s"negative manifest depth $depth")
    val parent = o.get("parent").map(jNum)
    require(depth == 0 || parent.nonEmpty, "delta manifest without parent")
    if (depth == 0)
      RawManifest(jNum(o("id")), jStr(o("op")).getOrElse(""), fileArr(o("files")),
        arr(o("added")), arr(o("removed")), jStr(o("watermark")), parent, 0)
    else {
      // first-cut delta manifests (same round, pre-key-rename) carried
      // the delta files under "files" with an explicit "added" — read
      // both shapes so a table written hours apart never loses commits
      val adds = fileArr(o.get("adds").getOrElse(o("files")))
      val added = o.get("added").map(arr).getOrElse(adds.map(_.path))
      RawManifest(jNum(o("id")), jStr(o("op")).getOrElse(""), adds,
        added, arr(o("removed")), jStr(o("watermark")), parent, depth)
    }
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
  private def renderFile(s: RawManifest): Array[Byte] = {
    val json = render(s)
    val crc = new java.util.zip.CRC32
    crc.update(json.getBytes("UTF-8"))
    s"$json\ncrc:${crc.getValue}\n".getBytes("UTF-8")
  }

  /** Parse a raw manifest if structurally sound AND its CRC (when
    * present) matches; None for torn/corrupt content.
    */
  private def readRaw(spark: SparkSession, root: String, v: Long): Option[RawManifest] =
    try {
      val p = snapPath(root, v)
      val in = fs(spark, p).open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = content.split("\n", -1)
      val json = lines(0)
      val ok = lines.find(_.startsWith("crc:")) match {
        case Some(c) =>
          val crc = new java.util.zip.CRC32
          crc.update(json.getBytes("UTF-8"))
          c.stripPrefix("crc:").trim == crc.getValue.toString
        case None => true // pre-CRC manifest
      }
      if (ok) Some(parse(json)) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A snapshot with its COMPLETE file list: a checkpoint is itself,
    * a delta resolves by walking parents to the nearest checkpoint and
    * replaying each delta's removals + additions in commit order. None
    * only for torn/corrupt CONTENT of `v` itself (an in-flight writer's
    * partial publish — steppable). A parseable delta whose ANCESTOR is
    * torn/missing throws instead: chains of live snapshots cannot break
    * (a commit's parent was parseable at commit time and immutable
    * after; [[expire]] cuts only at checkpoint ancestors), so a broken
    * chain is table DAMAGE — stepping over it would silently rewind the
    * head by up to checkpointEvery-1 committed snapshots (a regressed
    * watermark re-admits replayed batches as new), and expire would
    * sweep the "torn" deltas, turning one damaged checkpoint into
    * permanent loss of every commit above it. Loud, with the file to
    * restore named.
    */
  private def readSnap(spark: SparkSession, root: String, v: Long): Option[Snapshot] =
    readRaw(spark, root, v).map { raw =>
      if (raw.depth == 0)
        Snapshot(raw.id, raw.op, raw.files, raw.added, raw.removed,
          raw.watermark, 0)
      else resolveDelta(spark, root, raw)
    }

  private def chainBroken(root: String, at: Long, missing: Long): Nothing =
    throw new IllegalStateException(
      s"manifest chain broken in $root: snapshot $at needs ancestor " +
        f"$missing (meta/snap-$missing%08d.json), which is torn or missing — " +
        "committed state above the damage would otherwise be silently lost; " +
        "restore the file from a replica/backup (or, if a concurrent expire " +
        "just dropped it, simply retry)")

  /** The ONE delta-replay rule, shared by every resolver: parent files
    * minus this delta's removals plus its adds (replace-by-path).
    */
  private def applyDelta(parentFiles: Vector[FileEntry],
                         d: RawManifest): Vector[FileEntry] = {
    val byPath = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    parentFiles.foreach(e => byPath(e.path) = e)
    d.removed.foreach(byPath.remove)
    d.files.foreach(e => byPath(e.path) = e)
    byPath.values.toVector
  }

  private def resolveDelta(spark: SparkSession, root: String,
                           raw: RawManifest): Snapshot = {
    val deltas = scala.collection.mutable.ArrayBuffer(raw)
    var cur = raw
    while (cur.depth > 0) {
      val pid = cur.parent.getOrElse(chainBroken(root, cur.id, cur.id))
      readRaw(spark, root, pid) match {
        // chains must strictly descend — a forged/corrupt parent
        // pointer must degrade loudly, never loop
        case Some(p) if p.id < cur.id && (p.depth == 0 || p.depth < cur.depth) =>
          if (p.depth > 0) deltas += p
          cur = p
        case _ => chainBroken(root, cur.id, pid)
      }
    }
    var files = cur.files
    deltas.reverseIterator.foreach(d => files = applyDelta(files, d))
    Snapshot(raw.id, raw.op, files.sortBy(_.path),
      raw.added, raw.removed, raw.watermark, raw.depth)
  }

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
      case None =>
        // head resolution is on every reader's hot path (a streaming
        // source polls it per trigger; the claim store per batch), so
        // try the HEAD hint before paying the meta/ listing
        val f = fs(spark, metaDir(root))
        hintedHead(spark, f, root).map(_._2).orElse(
          latestParseable(spark, root, snapshotIds(spark, root)))
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

  // ---- head hint: `meta/HEAD` holds `v:<latest id>`, written
  // best-effort after every successful commit. It is ONLY an
  // optimization: the commit loop verifies the hinted manifest exists,
  // probes FORWARD for commits the hint missed (a crash between publish
  // and hint write, or another process's commits), and falls back to
  // the full `meta/` listing on any inconsistency (missing/corrupt
  // hint, hinted id expired, hinted window all-torn). Correctness never
  // depends on it — the no-clobber publish CAS still rejects a stale
  // version pick — it just replaces an O(retained snapshots) directory
  // LIST per attempt with a handful of point reads, which is what a
  // high commit rate on an object store needs.

  private def headHintPath(root: String) = new Path(metaDir(root), "HEAD")

  private def readHeadHint(f: FileSystem, root: String): Option[Long] =
    try {
      // open directly (catching not-found) rather than exists+open —
      // this runs on the per-poll/per-commit hot path the hint exists
      // to cheapen, and on object stores every probe is an RPC. Read a
      // BOUNDED prefix: the valid payload is <25 bytes, and a forged
      // multi-GB HEAD must fail the format check, not OOM the driver.
      val in = f.open(headHintPath(root))
      val s = try {
        val buf = new Array[Byte](64)
        var off = 0
        var n = in.read(buf, off, buf.length - off)
        while (n > 0 && off + n < buf.length) { off += n; n = in.read(buf, off, buf.length - off) }
        if (n > 0) off = buf.length
        new String(buf, 0, off, "UTF-8").trim
      } finally in.close()
      // a 64-byte read of an oversized file yields a long digit run or
      // garbage; toLong then throws -> None, same as any corrupt hint
      if (s.startsWith("v:")) Some(s.stripPrefix("v:").toLong) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Overwrite-in-place via tmp+rename; losing a race or crashing just
    * leaves a stale (or briefly absent) hint — both safe by design. The
    * tmp is deleted on every in-process failure path; only a hard crash
    * can strand one, and [[expire]]'s meta/ sweep collects those.
    */
  private def writeHeadHint(f: FileSystem, root: String, v: Long): Unit = {
    val tmp = new Path(metaDir(root),
      s".HEAD.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val out = f.create(tmp, true)
      try out.write(s"v:$v\n".getBytes("UTF-8")) finally out.close()
      f.delete(headHintPath(root), false)
      if (!f.rename(tmp, headHintPath(root))) f.delete(tmp, false)
    } catch {
      case scala.util.control.NonFatal(_) =>
        try f.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** Resolve (true max existing id, newest parseable snapshot) from the
    * head hint: the hinted manifest is verified to exist, then existence
    * is probed FORWARD (ids are dense above any live id except where
    * [[expire]]'s torn sweep burned a slot, so contiguous probes find
    * every commit the hint missed). A missing id whose SUCCESSOR exists
    * is such a swept hole — a stale-low hint stopping there would
    * resolve a stale head, so the probe looks one id past every miss
    * and bails to the full listing on a hole (expire also refreshes the
    * hint above any hole it punches, so this path is a second line of
    * defense). None when the hint is absent, stale past expiry, a hole
    * is detected, or the window is all-torn (the true head may then be
    * below the hint and only the full listing can say) — the caller
    * then pays the listing.
    */
  private def hintedHead(spark: SparkSession, f: FileSystem,
                         root: String): Option[(Long, Snapshot)] =
    readHeadHint(f, root).flatMap { h =>
      if (h < 1) None // garbage hint
      else {
        // no existence pre-check on h itself (an RPC the parse scan
        // below makes redundant): if h was expired but later ids are
        // retained, the probe walks onto them and the hint still
        // recovers without a listing
        var head = h
        var hole = false
        var done = false
        while (!done && !hole) {
          if (f.exists(snapPath(root, head + 1))) head += 1
          else if (f.exists(snapPath(root, head + 2))) hole = true
          else done = true
        }
        if (hole) None
        // the one-slot look-ahead cannot see a MULTI-slot hole (adjacent
        // burned slots swept while this reader was between its hint read
        // and the probe) — so cross-check against the CURRENT hint: the
        // sweep verifiably lifts the hint to its head before punching
        // any hole, so a probe that stopped inside one resolves below
        // the now-persisted hint and must pay the listing instead
        else if (readHeadHint(f, root).exists(_ > head)) None
        // newest parseable in the verified window [h, head] — the same
        // steps-over-torn rule as every other head resolution
        else latestParseable(spark, root, h to head).map(p => (head, p))
      }
    }

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
    * returns (op, full file list, added, removed, watermark).
    */
  private def commit(spark: SparkSession, root: String)
                    (make: Option[Snapshot] => (String, Vector[FileEntry], Vector[String], Vector[String], Option[String])): Snapshot = {
    val lock = jvmLocks.computeIfAbsent(new Path(root).toString, _ => new Object)
    lock.synchronized {
      val f = fs(spark, metaDir(root))
      f.mkdirs(metaDir(root))
      var attempts = 0
      while (attempts < 100) {
        attempts += 1
        // parent and version from ONE observation — reading them
        // separately opens a lost-update window (a commit landing
        // between the two reads would win a fresh slot with a stale
        // parent). The head of the SAME observation also lets a torn
        // manifest (non-atomic rename) be stepped over instead of
        // CAS-looped on; any commit racing past this observation still
        // collides on the no-clobber rename at the same v and forces a
        // retry. The observation itself is the HEAD-hint probe when the
        // hint checks out, else the full meta/ listing.
        val (v, parent) = hintedHead(spark, f, root) match {
          case Some((head, p)) => (head + 1, Some(p))
          case None =>
            val idsNow = snapshotIds(spark, root)
            (idsNow.lastOption.getOrElse(0L) + 1,
              latestParseable(spark, root, idsNow))
        }
        val (op, files, added, removed, wm) = make(parent)
        // Delta-vs-checkpoint decision: a delta writes O(this commit)
        // of manifest instead of O(table files); every Kth commit (and
        // every overwrite — its removal list IS the whole table) is a
        // full checkpoint so chains stay <= K-1 reads and expire always
        // has a cut point. make() returns the RESOLVED list either way;
        // the delta serializes only the added entries + removed paths,
        // which reconstruct it exactly (parent - removed + added).
        val depth = parent match {
          case Some(p) if op != "overwrite" && p.depth + 1 < checkpointEvery =>
            p.depth + 1
          case _ => 0
        }
        val raw =
          if (depth == 0) RawManifest(v, op, files, added, removed, wm, None, 0)
          else {
            val addedSet = added.toSet
            RawManifest(v, op, files.filter(e => addedSet(e.path)), added,
              removed, wm, parent.map(_.id), depth)
          }
        val snap = Snapshot(v, op, files, added, removed, wm, depth)
        val tmp = new Path(metaDir(root),
          f"snap-$v%08d.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        val out = f.create(tmp, true)
        try out.write(renderFile(raw)) finally out.close()
        // the CAS: never clobber an existing snap-<v>.json (hard-link
        // EEXIST on local, no-clobber FileContext rename elsewhere;
        // same-JVM racers are additionally serialized above)
        val won = publishNoClobber(f, spark, tmp, snapPath(root, v))
        if (won) { writeHeadHint(f, root, v); return snap }
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
        staged.map(_.path), Vector.empty,
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
      ("overwrite", staged, staged.map(_.path),
        parent.map(_.files.map(_.path)).getOrElse(Vector.empty),
        watermark.orElse(parent.flatMap(_.watermark)))
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
          staged.map(_.path), victims.map(_.path), p.watermark)
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

  /** Incremental change capture: the rows ADDED by commits after
    * snapshot `fromExclusive` (the consumer's cursor; pass 0 on first
    * call, then the `Snapshot.id` it has processed up to — typically
    * `snapshot(root).get.id` read BEFORE processing).
    *
    * Only `append`/`overwrite` commits contribute: a `rewrite`
    * (compaction) adds files but no new rows, so its lineage is
    * skipped — the incremental reader never double-counts compacted
    * data. Files stay readable until [[expire]], so consumers must be
    * within `keepLast` snapshots of the head; a cursor that has fallen
    * behind an expired snapshot throws (re-sync via a full [[read]]).
    * Returns None when nothing changed. This is the consumer half of
    * the streaming story: [[graft.StreamingPipeline.startSnap]]
    * commits a snapshot per micro-batch, a downstream job calls
    * `changesSince(lastSeen)` per cycle and advances its cursor —
    * incremental pipelines without a message bus.
    */
  def changesSince(spark: SparkSession, root: String,
                   fromExclusive: Long): Option[DataFrame] =
    changesBetween(spark, root, fromExclusive).rows

  /** One incremental read plus the cursor value that covers it. */
  final case class Changes(rows: Option[DataFrame], coveredThrough: Long)

  /** [[changesSince]] with a SAFE cursor-advance protocol: returns the
    * added rows in `(fromExclusive, coveredThrough]` AND
    * `coveredThrough` itself — the snapshot id the consumer should
    * advance its cursor to. Resolving the upper bound INSIDE the call
    * closes the race against a concurrent writer: a consumer that read
    * the head id before calling would double-count commits landing in
    * between, one that read it after would skip them. Pass
    * `toInclusive` to pin the bound yourself (e.g. re-reading a range);
    * by default the bound is the latest PARSEABLE snapshot — a torn
    * head (an in-flight writer on a non-atomic-rename filesystem) is
    * simply not covered yet and will be picked up by the next call.
    */
  def changesBetween(spark: SparkSession, root: String,
                     fromExclusive: Long,
                     toInclusive: Option[Long] = None): Changes = {
    val ids = snapshotIds(spark, root)
    // The cursor's LINEAGE must be intact: every manifest in
    // (fromExclusive, head] retained. The cursor id itself may have
    // been expired — a consumer exactly one keep-window behind is still
    // exactly recoverable as long as fromExclusive+1 is retained
    // (requiring the cursor id too would kill a healthy stream after
    // every routine expire at small keepLast). A cursor with NEITHER
    // its own id nor its successor retained is loud: either lineage is
    // truly gone (expired past it) or the cursor is foreign/rewound —
    // a silent partial result must never masquerade as a full one. 0
    // ("from the very beginning") requires history to start at 1.
    require(
      if (fromExclusive == 0) ids.isEmpty || ids.head == 1L
      else ids.contains(fromExclusive) || ids.contains(fromExclusive + 1),
      s"cursor $fromExclusive expired past its lineage or unknown in $root " +
        s"(have ${ids.mkString(",")}) — re-sync with a full read()")
    val covered = toInclusive match {
      case Some(t) =>
        require(t >= fromExclusive,
          s"toInclusive $t below cursor $fromExclusive in $root")
        require(t == fromExclusive || ids.contains(t),
          s"toInclusive $t unknown or expired in $root (have ${ids.mkString(",")})")
        t
      // never below the cursor (a torn-head-only table must not walk
      // the consumer's cursor backwards)
      case None => latestParseable(spark, root, ids).map(_.id)
        .getOrElse(fromExclusive).max(fromExclusive)
    }
    // every manifest INSIDE the range must parse — silently skipping a
    // torn/corrupt one would hand the consumer a partial result that
    // looks complete (same invariant as the cursor guard above). RAW
    // manifests suffice: the added lineage is carried by the delta
    // itself, so incremental capture never pays a chain resolution
    val range = ids.filter(v => v > fromExclusive && v <= covered)
      .map(v => v -> readRaw(spark, root, v))
    val corrupt = range.collect { case (v, None) => v }
    require(corrupt.isEmpty,
      s"corrupt manifest(s) ${corrupt.mkString(",")} inside the change range of $root — " +
        "re-sync with a full read()")
    val added = range.flatMap(_._2)
      .filter(s => s.op == "append" || s.op == "overwrite")
      .flatMap(_.added)
    Changes(if (added.isEmpty) None else Some(spark.read.parquet(added: _*)),
      covered)
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
    // list shadow real data below it and GC live files. Torn ids are
    // left entirely alone (they may be a slow in-flight writer on a
    // non-atomic-rename filesystem): not counted, not deleted, and
    // contributing nothing to the live set.
    val allIds = snapshotIds(spark, root)
    // parse each manifest ONCE (remote filesystems pay per round-trip):
    // raws are read in one pass and delta chains resolved INCREMENTALLY
    // ascending (a parent always precedes its child), so expire costs
    // O(snapshots) manifest reads, not O(snapshots x chain length)
    val raws: Map[Long, RawManifest] =
      allIds.flatMap(v => readRaw(spark, root, v).map(v -> _)).toMap
    val parseable = allIds.filter(raws.contains)
    // One ascending pass resolves every intact chain incrementally
    // (files + chain base per id — a parent always precedes its child,
    // so expire costs O(snapshots) manifest reads, not O(snapshots x
    // chain length)) and resolves TOLERANTLY: damage anywhere below the
    // cut must not brick GC forever (the old eager version threw for a
    // rotted manifest no kept snapshot depends on, making its own
    // "expire the table past it" recovery advice impossible). Only the
    // KEPT snapshots — the table's live state — must resolve, loudly.
    val resolved = scala.collection.mutable.Map.empty[Long, (Vector[FileEntry], Long)]
    for (v <- parseable) {
      val raw = raws(v)
      if (raw.depth == 0) resolved(v) = (raw.files, v)
      else raw.parent.flatMap(resolved.get).foreach { case (pf, base) =>
        resolved(v) = (applyDelta(pf, raw), base)
      }
    }
    def resolvedOrBroken(v: Long): (Vector[FileEntry], Long) =
      resolved.getOrElse(v, {
        // name the first missing/unresolvable ancestor for the operator
        var c = raws(v)
        while (c.depth > 0 && c.parent.exists(raws.contains))
          c = raws(c.parent.get)
        chainBroken(root, v, c.parent.getOrElse(c.id))
      })
    val f = fs(spark, dataDir(root))
    val keep =
      if (parseable.length <= keepLast) parseable
      else {
        // the cut must land on a checkpoint that is a chain ANCESTOR of
        // every retained snapshot: retained deltas resolve through
        // their parents, so cutting mid-chain would orphan them —
        // and LIST position is not ancestry (a slow writer's torn
        // checkpoint can complete late and resurrect as a parseable
        // orphan that nothing chains through; stopping a positional
        // walk there would drop a kept delta's real parent). keepLast
        // is therefore a minimum — the cut extends down to the OLDEST
        // checkpoint any kept snapshot's chain rests on (genesis is
        // always one, so the walk terminates).
        val cut0 = parseable.length - keepLast
        val cutId = (cut0 until parseable.length)
          .map(i => resolvedOrBroken(parseable(i))._2).min
        val cut = parseable.indexOf(cutId)
        val (drop, keep) = parseable.splitAt(cut)
        val live: Set[String] = keep.flatMap(v => resolved(v)._1.map(_.path)).toSet
        drop.foreach { v =>
          // an unresolvable DROPPED snapshot (damage below the cut)
          // cannot enumerate its files — skip the targeted GC and let
          // the age-gated orphan sweep below collect them; the manifest
          // itself still goes (nothing kept references it)
          resolved.get(v).foreach(_._1
            .filterNot(e => live(e.path))
            .foreach(e => f.delete(new Path(e.path), false)))
          f.delete(snapPath(root, v), false)
        }
        keep
      }
    // every KEPT snapshot must resolve: the orphan sweep's live set is
    // built from kept files, and an unresolvable kept snapshot would
    // read as file-less — its data would be swept as orphans
    val liveKeep: Set[String] =
      keep.flatMap(v => resolvedOrBroken(v)._1.map(e => new Path(e.path).getName)).toSet
    // Torn-manifest sweep, regardless of whether anything was dropped:
    // a torn id BELOW the latest parseable snapshot lost its slot to a
    // newer committed head — it can never become committed state
    // (commits step over it; the version is burned) but it permanently
    // poisons changesBetween ranges spanning it, so delete the manifest
    // (it references no known files). A torn id AT/ABOVE the latest
    // parseable may be a slow in-flight publish on a non-atomic-rename
    // filesystem: delete only past the same age gate that protects
    // staged data files. A mid-copy writer racing a delete may
    // resurrect the file as a parseable orphan — harmless to readers
    // (never the latest) and swept by the NEXT expire as an old
    // parseable id.
    val nowTorn = System.currentTimeMillis()
    val maxParseable = parseable.lastOption.getOrElse(Long.MinValue)
    val torn = allIds.filterNot(raws.contains)
    // Deleting a burned slot below the head punches a HOLE in the id
    // sequence; a reader holding a stale-low HEAD hint (crash between
    // publish and hint write) could stop its forward existence probe at
    // the hole and resolve a stale head — hintedHead's one-slot
    // look-ahead covers a single hole, but a sweep may burn ADJACENT
    // slots. So below-head deletions are GATED on a hint verifiably at
    // or above this head: commit ids only grow, so every later hint
    // (even a stale one from a crashed publish) stays above every hole
    // this sweep can punch. If the hint cannot be written/read back,
    // the burned slots simply wait for the next expire.
    val hintSafe = !torn.exists(_ < maxParseable) || {
      readHeadHint(f, root).exists(_ >= maxParseable) || {
        writeHeadHint(f, root, maxParseable)
        readHeadHint(f, root).exists(_ >= maxParseable) // verified, not assumed
      }
    }
    torn.foreach { v =>
      val p = snapPath(root, v)
      val oldEnough =
        try nowTorn - f.getFileStatus(p).getModificationTime > orphanGraceMs
        catch { case scala.util.control.NonFatal(_) => false }
      // above the head only age-gated (may be a slow in-flight publish);
      // below the head only hint-gated (may punch a probe-visible hole)
      if ((v < maxParseable && hintSafe) || (v > maxParseable && oldEnough))
        f.delete(p, false)
    }
    // orphan sweep — compare by file NAME (uuid-stamped, unique within
    // data/): manifests may record unqualified paths while listStatus
    // returns fully-qualified ones
    val liveNames: Set[String] = liveKeep
    val now = System.currentTimeMillis()
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
    // tmps stranded in meta/ by a crash mid-publish (manifest or HEAD
    // hint): both are rendered irrelevant the moment their writer dies,
    // so age is the only guard needed
    val md = metaDir(root)
    if (f.exists(md)) f.listStatus(md).foreach { s =>
      val n = s.getPath.getName
      if (s.isFile && (n.contains(".json.tmp-") || n.startsWith(".HEAD.tmp-")) &&
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
    // caches key on them (ClaimStore's chunk filters) and the orphan
    // sweep above compares by name — and a truncated stamp makes reuse
    // a birthday problem, not an impossibility
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
