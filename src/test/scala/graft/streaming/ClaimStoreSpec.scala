package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.table.SnapTable

/** Pins for the SnapTable-backed claim store: exact seen-sets through
  * appends, folds and size-tiered merges, replay idempotence, and
  * crash-free reads concurrent with folds.
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

  private def seenSet(root: String, probe: Seq[Int], batchId: Long): Set[String] = {
    import spark.implicits._
    // no intersect with the probe: the semi-join itself must return only
    // probed claims, each once
    ClaimStore.seenFor(spark, root, hashes(probe), "h", batchId)
      .map { s =>
        val got = s.as[String].collect()
        assert(got.length == got.distinct.length, "seenFor repeated a claim")
        got.toSet
      }
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
    // fold batches <= 2 into the base: same answers
    ClaimStore.fold(spark, root, 2L)
    val tags = SnapTable.snapshot(spark, root).get.files.flatMap(_.tag).toSet
    assert(tags == Set("base"), tags.toString)
    assert(seenSet(root, 0 until 40, 3L) == hashSet(0 until 30))
    assert(seenSet(root, 5 until 8, 3L) == hashSet(5 until 8))
    // claims stay globally distinct through the fold
    val all = SnapTable.read(spark, root).select("h")
    assert(all.count() == 30 && all.distinct().count() == 30)
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
      ClaimStore.fold(spark, root, b.toLong, cfg)
      assert(runCount <= 3, s"after fold $b: $runCount runs")
    }
    // claims survive every merge, exactly once each
    val all = SnapTable.read(spark, root).select("h")
    assert(all.count() == 500 && all.distinct().count() == 500)
    // seen set exact THROUGH the merged base
    assert(seenSet(root, 0 until 600, 10L) == hashSet(0 until 500))
    assert(seenSet(root, 1000 until 1050, 10L).isEmpty)
  }

  test("model check: random append/fold/merge/replay sequences keep seen-sets exact") {
    for (trial <- 0 until 2) {
      val rnd = new scala.util.Random(7100 + trial)
      val root = tmp(s"csm$trial")
      // tiny fold target + low run cap: every structural path (many
      // base files, size-tiered merges) exercises per trial
      val cfg = ClaimStore.Config(foldTargetBytes = 4096, maxRuns = 3)
      var claimed = Set.empty[Int] // reference model
      for (step <- 0 until 12) {
        val b = step.toLong
        // probe a random mix BEFORE appending: batch b sees exactly the
        // model's claims (all earlier batches), regardless of fold state
        val probe = Seq.fill(60)(rnd.nextInt(3000)).distinct
        assert(seenSet(root, probe, b) == hashSet(probe.filter(claimed)),
          s"trial $trial step $step")
        // the caller's contract: append only NEW claims (the write path
        // upstream anti-joins), deduped in-batch
        val newIds = Seq.fill(rnd.nextInt(50))(rnd.nextInt(3000))
          .distinct.filterNot(claimed)
        ClaimStore.appendClaims(spark, root, hashes(newIds), "h", b)
        claimed ++= newIds
        if (rnd.nextInt(3) == 0) ClaimStore.fold(spark, root, b, cfg)
        if (rnd.nextInt(4) == 0) // replay of an already-committed batch
          ClaimStore.appendClaims(spark, root, hashes(newIds), "h", b)
      }
      // final exactness over the whole key space, and global distinctness
      assert(seenSet(root, 0 until 3000, 12L) == hashSet(claimed.toSeq))
      val all = SnapTable.read(spark, root).select("h")
      assert(all.count() == claimed.size && all.distinct().count() == claimed.size)
    }
  }

  test("concurrent monitoring reads during appends and folds stay exact and crash-free") {
    // lastBatch/seenFor are public and callable from monitoring threads;
    // this leg hammers them against live appends + folds (run merges,
    // manifest expiry) — a reader must never see a torn file list
    val root = tmp("cs16")
    val cfg = ClaimStore.Config(foldTargetBytes = 4096, maxRuns = 2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val monitors = (0 until 3).map(i => new Thread(() => {
      while (!stop) {
        try {
          ClaimStore.lastBatch(spark, root)
          ClaimStore.seenFor(spark, root, hashes(i * 30 until i * 30 + 60),
            "h", 1000L).foreach(_.count())
        } catch { case t: Throwable => errs.add(t); stop = true }
      }
    }, s"cs16-monitor-$i"))
    monitors.foreach(_.start())
    try {
      for (b <- 0 until 10) {
        ClaimStore.appendClaims(spark, root,
          hashes(b * 20 until b * 20 + 20), "h", b.toLong)
        if (b % 3 == 2) ClaimStore.fold(spark, root, b.toLong, cfg)
      }
    } finally {
      stop = true
      monitors.foreach(_.join(60000))
    }
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    assert(seenSet(root, 0 until 300, 100L) == hashSet(0 until 200))
  }

  test("empty claim append is a pure watermark bump; fold with nothing to fold is a no-op") {
    val root = tmp("cs7")
    ClaimStore.appendClaims(spark, root, hashes(Nil), "h", 0L)
    assert(ClaimStore.lastBatch(spark, root).contains(0L))
    assert(SnapTable.snapshot(spark, root).get.files.isEmpty)
    assert(seenSet(root, 0 until 10, 1L).isEmpty)
    ClaimStore.fold(spark, root, 0L) // no files: must not throw
    ClaimStore.appendClaims(spark, root, hashes(0 until 5), "h", 1L)
    assert(seenSet(root, 0 until 10, 2L) == hashSet(0 until 5))
  }
}
