package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.table.SnapTable

/** Pins for the SnapTable-backed claim store: exact seen-sets, replay
  * idempotence, Bloom no-false-negatives (build/probe consistency),
  * batch-bounded base reads, pruning, cap fallback, and Bloom healing.
  */
class ClaimStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/claims"

  private def hashes(ids: Seq[Int]) = {
    import spark.implicits._
    ids.map(i => StreamingUtil.md5hex(s"claim-$i")).toDF("h")
  }
  private def hashSet(ids: Seq[Int]): Set[String] =
    ids.map(i => StreamingUtil.md5hex(s"claim-$i")).toSet

  private def seenSet(root: String, probe: Seq[Int], batchId: Long,
                      cfg: ClaimStore.Config = ClaimStore.Config()): Set[String] = {
    import spark.implicits._
    ClaimStore.seenFor(spark, root, hashes(probe), "h", batchId, cfg)
      .map(_.as[String].collect().toSet.intersect(hashSet(probe)))
      .getOrElse(Set.empty)
  }

  test("seen-sets are exact across appends, folds, and replay exclusion") {
    val root = tmp("cs1")
    // batches 0..2 claim disjoint ranges
    ClaimStore.appendClaims(spark, root, hashes(0 until 10), "h", 0L)
    ClaimStore.appendClaims(spark, root, hashes(10 until 20), "h", 1L)
    ClaimStore.appendClaims(spark, root, hashes(20 until 30), "h", 2L)
    assert(ClaimStore.lastBatch(spark, root).contains(2L))
    // batch 3 sees all earlier claims, exactly
    assert(seenSet(root, 0 until 40, 3L) == hashSet(0 until 30))
    // a REPLAY of batch 2 must not see its own earlier attempt's claims
    assert(seenSet(root, 0 until 40, 2L) == hashSet(0 until 20))
    // and must not commit a new snapshot
    val head = SnapTable.snapshot(spark, root).get.id
    ClaimStore.appendClaims(spark, root, hashes(20 until 30), "h", 2L)
    assert(SnapTable.snapshot(spark, root).get.id == head)
    // fold batches <= 2 into the base: same answers, through the Bloom
    ClaimStore.fold(spark, root, "h", 2L)
    val tags = SnapTable.snapshot(spark, root).get.files.flatMap(_.tag).toSet
    assert(tags == Set("base"), tags.toString)
    assert(seenSet(root, 0 until 40, 3L) == hashSet(0 until 30))
    assert(seenSet(root, 5 until 8, 3L) == hashSet(5 until 8))
    // claims stay globally distinct through the fold
    val all = SnapTable.read(spark, root).select("h")
    assert(all.count() == 30 && all.distinct().count() == 30)
  }

  test("bloom has no false negatives and an all-fresh batch reads zero base bytes") {
    val root = tmp("cs2")
    ClaimStore.appendClaims(spark, root, hashes(0 until 500), "h", 0L)
    ClaimStore.fold(spark, root, "h", 0L)
    // every claimed hash must be Bloom-positive (build/probe use the
    // same UTF-8 string hashing) — a false negative would silently
    // re-admit a duplicate
    assert(seenSet(root, 0 until 500, 1L) == hashSet(0 until 500))
    // the batch-bounded property: a batch with NO previously-claimed
    // hashes plans zero seen-side bytes (Bloom rejects everything;
    // fpp can theoretically cost a pruned chunk — sized far below any
    // plausible collision here)
    ClaimStore.Metrics.reset()
    assert(seenSet(root, 1000 until 1100, 1L).isEmpty)
    assert(ClaimStore.Metrics.plannedSeenBytes.get == 0L,
      s"fresh batch read ${ClaimStore.Metrics.plannedSeenBytes.get} base bytes")
    assert(ClaimStore.Metrics.baseFilesTotal.get > 0)
  }

  test("manifest pruning reads only the chunks containing positives") {
    val root = tmp("cs3")
    ClaimStore.appendClaims(spark, root, hashes(0 until 2000), "h", 0L)
    // tiny fold target -> many range-clustered base chunks
    val cfg = ClaimStore.Config(foldTargetBytes = 4096)
    ClaimStore.fold(spark, root, "h", 0L, cfg)
    val base = SnapTable.snapshot(spark, root).get.files
    assert(base.size > 3, s"need several chunks, got ${base.size}")
    assert(base.forall(e => e.lo.isDefined && e.hi.isDefined))
    // one duplicate probe -> exactly one chunk selected
    ClaimStore.Metrics.reset()
    assert(seenSet(root, Seq(42), 1L, cfg) == hashSet(Seq(42)))
    assert(ClaimStore.Metrics.positives.get == 1L)
    assert(ClaimStore.Metrics.baseFilesSelected.get == 1L,
      s"selected ${ClaimStore.Metrics.baseFilesSelected.get} of ${base.size}")
    assert(ClaimStore.Metrics.plannedSeenBytes.get < base.map(_.bytes).sum,
      "pruned read must be smaller than the full base")
  }

  test("positives over the cap fall back to a full covered read, still exact") {
    val root = tmp("cs4")
    ClaimStore.appendClaims(spark, root, hashes(0 until 100), "h", 0L)
    val cfg = ClaimStore.Config(positivesCap = 5)
    ClaimStore.fold(spark, root, "h", 0L, cfg)
    ClaimStore.Metrics.reset()
    assert(seenSet(root, 0 until 50, 1L, cfg) == hashSet(0 until 50))
    assert(ClaimStore.Metrics.fullFallbacks.get >= 1L)
  }

  test("a missing/torn run filter full-reads ONLY its run and the next fold heals it") {
    val root = tmp("cs5")
    // two folds -> two runs, each with its own immutable probe filter
    ClaimStore.appendClaims(spark, root, hashes(0 until 200), "h", 0L)
    ClaimStore.fold(spark, root, "h", 0L)
    ClaimStore.appendClaims(spark, root, hashes(200 until 400), "h", 1L)
    ClaimStore.fold(spark, root, "h", 1L)
    val runDir = new java.io.File(s"$root/bloomruns")
    def gbfs = runDir.listFiles().filter(_.getName.endsWith(".gbf"))
    assert(gbfs.length == 2, s"expected one .gbf per run, got ${gbfs.length}")
    assert(!new java.io.File(s"$root/bloom.bin").exists(),
      "fresh stores must never write the legacy mutable bloom.bin")
    // simulate a crash between a fold commit and its filter write
    val victim = gbfs.sortBy(_.getName).head
    java.nio.file.Files.writeString(victim.toPath, "torn-garbage")
    val baseBytes = SnapTable.snapshot(spark, root).get.files
      .filter(_.tag.contains("base")).map(_.bytes).sum
    // probe FRESH hashes: the filterless run is read in full (it must
    // be — nothing can prune it) but the intact run's filter rejects
    // every probe, so the fallback is RUN-scoped, below the whole base
    ClaimStore.Metrics.reset()
    assert(seenSet(root, 1000 until 1100, 2L).isEmpty)
    assert(ClaimStore.Metrics.fullFallbacks.get >= 1L, "torn filter must fall back")
    assert(!victim.exists(), "a definitively-corrupt run filter is deleted on read")
    assert(ClaimStore.Metrics.plannedSeenBytes.get < baseBytes,
      s"read ${ClaimStore.Metrics.plannedSeenBytes.get} of $baseBytes base bytes")
    // exactness across BOTH runs while one filter is missing
    assert(seenSet(root, 0 until 500, 2L) == hashSet(0 until 400))
    // more claims + a fold heal the coverage (the heal reads only the
    // filterless run, not the whole base)
    ClaimStore.appendClaims(spark, root, hashes(400 until 450), "h", 2L)
    ClaimStore.fold(spark, root, "h", 2L)
    ClaimStore.Metrics.reset()
    assert(seenSet(root, 0 until 500, 3L) == hashSet(0 until 450))
    assert(ClaimStore.Metrics.fullFallbacks.get == 0L, "healed filters must cover the base")
    // and a fresh batch is back to zero base bytes
    ClaimStore.Metrics.reset()
    assert(seenSet(root, 1000 until 1050, 3L).isEmpty)
    assert(ClaimStore.Metrics.plannedSeenBytes.get == 0L)
  }

  test("run filters are sized per run from exact rows; config changes never rebuild") {
    val root = tmp("cs6")
    ClaimStore.appendClaims(spark, root, hashes(0 until 100), "h", 0L)
    ClaimStore.fold(spark, root, "h", 0L)
    ClaimStore.appendClaims(spark, root, hashes(100 until 3100), "h", 1L)
    ClaimStore.fold(spark, root, "h", 1L)
    val runDir = new java.io.File(s"$root/bloomruns")
    val byName = runDir.listFiles().filter(_.getName.endsWith(".gbf")).sortBy(_.length())
    assert(byName.length == 2)
    // exact per-run sizing: the 3000-claim run's filter is strictly
    // bigger than the 100-claim run's (no global knob to saturate)
    assert(byName.last.length() > 2 * byName.head.length(),
      s"sizes ${byName.map(_.length()).mkString(",")}")
    // existing immutable filter files are not rewritten by the next fold
    val before = byName.map(f => f.getName -> f.lastModified()).toMap
    ClaimStore.appendClaims(spark, root, hashes(3100 until 3150), "h", 2L)
    ClaimStore.fold(spark, root, "h", 2L)
    for (f <- byName)
      assert(f.lastModified() == before(f.getName), s"${f.getName} was rewritten")
    assert(seenSet(root, 0 until 3200, 3L) == hashSet(0 until 3150))
    ClaimStore.Metrics.reset()
    assert(seenSet(root, 5000 until 5020, 3L).isEmpty)
    assert(ClaimStore.Metrics.plannedSeenBytes.get == 0L)
    // saturation observability: the probe reports its union fpp bound
    assert(ClaimStore.Metrics.probeFppPpm.get > 0L)
  }

  test("chunk selection is bounded by content, not LSM run count") {
    val root = tmp("cs8")
    // five folds -> five sorted runs, EACH spanning the full md5 range
    for (b <- 0 until 5) {
      ClaimStore.appendClaims(spark, root, hashes(b * 100 until (b + 1) * 100), "h", b.toLong)
      ClaimStore.fold(spark, root, "h", b.toLong)
    }
    val base = SnapTable.snapshot(spark, root).get.files.filter(_.tag.contains("base"))
    assert(base.size == 5, s"expected 5 runs, got ${base.size}")
    // every run's [lo,hi] overlaps every probe (full-range runs), so
    // bounds-only pruning would select ALL runs; the per-chunk Bloom
    // must select exactly the one run that CONTAINS the positive
    ClaimStore.Metrics.reset()
    assert(seenSet(root, Seq(42), 5L) == hashSet(Seq(42))) // claimed by batch 0's run
    assert(ClaimStore.Metrics.baseFilesSelected.get == 1L,
      s"selected ${ClaimStore.Metrics.baseFilesSelected.get} of ${base.size} runs")
    // two positives from two different runs -> exactly two
    ClaimStore.Metrics.reset()
    assert(seenSet(root, Seq(42, 342), 5L) == hashSet(Seq(42, 342)))
    assert(ClaimStore.Metrics.baseFilesSelected.get == 2L)
  }

  test("run count stays capped under maxRuns via size-tiered merges, answers exact") {
    val root = tmp("cs10")
    val cfg = ClaimStore.Config(maxRuns = 3)
    def runCount: Int = SnapTable.snapshot(spark, root).get.files
      .filter(_.tag.contains("base"))
      .groupBy(e => new org.apache.hadoop.fs.Path(e.path).getName.takeWhile(_ != '-'))
      .size
    // ten fold cycles; uncapped this would be ten runs
    for (b <- 0 until 10) {
      ClaimStore.appendClaims(spark, root, hashes(b * 50 until (b + 1) * 50), "h", b.toLong)
      ClaimStore.fold(spark, root, "h", b.toLong, cfg)
      assert(runCount <= 3, s"after fold $b: $runCount runs")
    }
    // claims survive every merge, exactly once each
    val all = SnapTable.read(spark, root).select("h")
    assert(all.count() == 500 && all.distinct().count() == 500)
    // seen set exact THROUGH the merged base (Bloom healed over merges)
    assert(seenSet(root, 0 until 600, 10L, cfg) == hashSet(0 until 500))
    // and a fresh batch still reads zero base bytes
    ClaimStore.Metrics.reset()
    assert(seenSet(root, 1000 until 1050, 10L, cfg).isEmpty)
    assert(ClaimStore.Metrics.plannedSeenBytes.get == 0L)
    assert(ClaimStore.Metrics.fullFallbacks.get == 0L,
      "merged chunks must be Bloom-covered after the fold that merged them")
  }

  test("chunk filters are per-chunk files; a torn one degrades to bounds and heals") {
    val root = tmp("cs11")
    ClaimStore.appendClaims(spark, root, hashes(0 until 2000), "h", 0L)
    val cfg = ClaimStore.Config(foldTargetBytes = 4096)
    ClaimStore.fold(spark, root, "h", 0L, cfg)
    val base = SnapTable.snapshot(spark, root).get.files.filter(_.tag.contains("base"))
    val bfDir = new java.io.File(s"$root/bloomchunks")
    def bfFiles = bfDir.listFiles().filter(_.getName.endsWith(".bf"))
    assert(bfFiles.length == base.size,
      s"expected one filter file per chunk: ${bfFiles.length} vs ${base.size}")
    // the probe side is immutable run filters — no mutable global file
    assert(!new java.io.File(s"$root/bloom.bin").exists(),
      "fresh stores must never write the legacy mutable bloom.bin")
    assert(new java.io.File(s"$root/bloomruns").listFiles()
      .count(_.getName.endsWith(".gbf")) == 1, "one probe filter per run")
    // corrupt THREE chunk filters, one per failure shape — each must
    // degrade to bounds for its chunk (the positive is still found),
    // be deleted on read, and heal at the next fold; others unaffected
    assert(bfFiles.length >= 3, s"need 3 victims, have ${bfFiles.length}")
    val victims = bfFiles.sortBy(_.getName).take(3)
    // hand-editing bypasses Hadoop's local-FS .crc sidecars, which would
    // otherwise intercept every read as a ChecksumException BEFORE the
    // trailer-CRC / parse branches under test — drop them so the
    // store's own validation is what runs
    def dropFsCrc(v: java.io.File): Unit =
      new java.io.File(v.getParentFile, s".${v.getName}.crc").delete()
    // (a) short write: under the 9-byte blob+trailer minimum
    java.nio.file.Files.writeString(victims(0).toPath, "torn")
    dropFsCrc(victims(0))
    // (b) CRC mismatch: flip a blob byte, keep length and trailer
    locally {
      val b = java.nio.file.Files.readAllBytes(victims(1).toPath)
      b(0) = (b(0) ^ 0xff).toByte
      java.nio.file.Files.write(victims(1).toPath, b)
      dropFsCrc(victims(1))
    }
    // (c) CRC-VALID garbage: unparseable as a BloomFilter — the parse
    // failure must degrade like a CRC failure, never wedge the stream
    locally {
      val blob = Array.fill[Byte](32)(0x5a)
      val crc = new java.util.zip.CRC32
      crc.update(blob)
      val trailer = java.nio.ByteBuffer.allocate(8).putLong(crc.getValue).array()
      java.nio.file.Files.write(victims(2).toPath, blob ++ trailer)
      dropFsCrc(victims(2))
    }
    assert(seenSet(root, 0 until 2000, 1L, cfg) == hashSet(0 until 2000))
    victims.foreach(v =>
      assert(!v.exists(), s"corrupt chunk filter ${v.getName} must be deleted on read"))
    ClaimStore.appendClaims(spark, root, hashes(2000 until 2100), "h", 1L)
    ClaimStore.fold(spark, root, "h", 1L, cfg)
    assert(bfFiles.length ==
      SnapTable.snapshot(spark, root).get.files.count(_.tag.contains("base")),
      "heal must restore one filter file per chunk")
    assert(seenSet(root, 0 until 2200, 2L, cfg) == hashSet(0 until 2100))
  }

  test("model check: random append/fold/merge/replay sequences keep seen-sets exact") {
    for (trial <- 0 until 2) {
      val rnd = new scala.util.Random(7100 + trial)
      val root = tmp(s"csm$trial")
      // tiny fold target + low run cap: every structural path (many
      // chunks, size-tiered merges, bloom heals) exercises per trial
      val cfg = ClaimStore.Config(foldTargetBytes = 4096, maxRuns = 3)
      var claimed = Set.empty[Int] // reference model
      for (step <- 0 until 12) {
        val b = step.toLong
        // probe a random mix BEFORE appending: batch b sees exactly the
        // model's claims (all earlier batches), regardless of fold state
        val probe = Seq.fill(60)(rnd.nextInt(3000)).distinct
        assert(seenSet(root, probe, b, cfg) == hashSet(probe.filter(claimed)),
          s"trial $trial step $step")
        // the caller's contract: append only NEW claims (the write path
        // upstream anti-joins), deduped in-batch
        val newIds = Seq.fill(rnd.nextInt(50))(rnd.nextInt(3000))
          .distinct.filterNot(claimed)
        ClaimStore.appendClaims(spark, root, hashes(newIds), "h", b)
        claimed ++= newIds
        if (rnd.nextInt(3) == 0) ClaimStore.fold(spark, root, "h", b, cfg)
        if (rnd.nextInt(4) == 0) // replay of an already-committed batch
          ClaimStore.appendClaims(spark, root, hashes(newIds), "h", b)
      }
      // final exactness over the whole key space, and global distinctness
      assert(seenSet(root, 0 until 3000, 12L, cfg) == hashSet(claimed.toSeq))
      val all = SnapTable.read(spark, root).select("h")
      assert(all.count() == claimed.size && all.distinct().count() == claimed.size)
    }
  }

  test("concurrent monitoring reads during appends and folds stay exact and crash-free") {
    // lastBatch/seenFor are public and callable from monitoring threads
    // (the migration scaladoc promises this); this leg hammers them
    // against live appends + folds (run merges, filter drops) — pinning
    // the cache races: putIfAbsent convergence, unpersist-not-destroy
    // eviction (a destroyed broadcast would throw in a monitor's task)
    val root = tmp("cs16")
    val cfg = ClaimStore.Config(foldTargetBytes = 4096, maxRuns = 2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val monitors = (0 until 3).map(i => new Thread(() => {
      while (!stop) {
        try {
          ClaimStore.lastBatch(spark, root)
          ClaimStore.seenFor(spark, root, hashes(i * 30 until i * 30 + 60),
            "h", 1000L, cfg).foreach(_.count())
        } catch { case t: Throwable => errs.add(t); stop = true }
      }
    }, s"cs16-monitor-$i"))
    monitors.foreach(_.start())
    try {
      for (b <- 0 until 10) {
        ClaimStore.appendClaims(spark, root,
          hashes(b * 20 until b * 20 + 20), "h", b.toLong)
        if (b % 3 == 2) ClaimStore.fold(spark, root, "h", b.toLong, cfg)
      }
    } finally {
      stop = true
      monitors.foreach(_.join(60000))
    }
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    assert(seenSet(root, 0 until 300, 100L, cfg) == hashSet(0 until 200))
  }

  test("empty claim append is a pure watermark bump; fold with nothing to fold is a no-op") {
    val root = tmp("cs7")
    ClaimStore.appendClaims(spark, root, hashes(Nil), "h", 0L)
    assert(ClaimStore.lastBatch(spark, root).contains(0L))
    assert(SnapTable.snapshot(spark, root).get.files.isEmpty)
    assert(seenSet(root, 0 until 10, 1L).isEmpty)
    ClaimStore.fold(spark, root, "h", 0L) // no files: must not throw
    ClaimStore.appendClaims(spark, root, hashes(0 until 5), "h", 1L)
    assert(seenSet(root, 0 until 10, 2L) == hashSet(0 until 5))
  }
}
