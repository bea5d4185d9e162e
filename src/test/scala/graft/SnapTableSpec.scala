package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.table.SnapTable

class SnapTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/tbl"

  test("append/read roundtrip, lineage, and watermark resume") {
    import spark.implicits._
    val root = tmp("snap1")
    val s1 = SnapTable.append(spark, root,
      (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "v"),
      watermark = Some("batch-0"))
    assert(s1.id == 1L && s1.op == "append")
    assert(s1.files.map(_.rows).sum == 100)
    val s2 = SnapTable.append(spark, root,
      (101 to 150).map(i => (i.toLong, s"row$i")).toDF("id", "v"),
      watermark = Some("batch-1"))
    assert(s2.id == 2L && s2.files.map(_.rows).sum == 150)
    // an append keeps every parent file and adds its own
    assert(s1.files.toSet.subsetOf(s2.files.toSet) && s2.files.size > s1.files.size)
    // the resume point is the last COMMITTED watermark
    assert(SnapTable.lastWatermark(spark, root).contains("batch-1"))
    val got = SnapTable.read(spark, root).select("id").as[Long].collect().toSet
    assert(got == (1L to 150L).toSet)
    // append without a watermark inherits the parent's
    SnapTable.append(spark, root, Seq((151L, "x")).toDF("id", "v"))
    assert(SnapTable.lastWatermark(spark, root).contains("batch-1"))
  }

  test("time travel: every snapshot stays readable until expired") {
    import spark.implicits._
    val root = tmp("snap2")
    SnapTable.append(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    SnapTable.overwrite(spark, root, Seq((9L, "z")).toDF("id", "v"))
    assert(SnapTable.snapshotIds(spark, root) == Seq(1L, 2L, 3L))
    def ids(asOf: Long) = SnapTable.read(spark, root, Some(asOf))
      .select("id").as[Long].collect().toSet
    assert(ids(1) == Set(1L))
    assert(ids(2) == Set(1L, 2L))
    assert(ids(3) == Set(9L))
    intercept[IllegalArgumentException] { SnapTable.read(spark, root, Some(7L)) }
  }

  test("rewrite: snapshot-isolated compaction — old readers consistent, data identical") {
    import spark.implicits._
    val root = tmp("snap3")
    for (b <- 0 until 6)
      SnapTable.append(spark, root,
        (0 until 50).map(i => ((b * 50 + i).toLong, s"v$b-$i")).toDF("id", "v"),
        statsCol = Some("id"))
    val before = SnapTable.snapshot(spark, root).get
    assert(before.id == 6L)
    val nFilesBefore = before.files.length
    // a reader resolved BEFORE the rewrite...
    val oldView = SnapTable.read(spark, root, Some(before.id))
    val compacted = SnapTable.rewrite(spark, root,
      pick = _ => true,
      rewriteAs = _.repartition(1).sortWithinPartitions("id"),
      statsCol = Some("id")).get
    assert(compacted.op == "rewrite" && compacted.files.length == 1)
    assert(compacted.files.map(_.path).toSet.intersect(before.files.map(_.path).toSet).isEmpty,
      s"rewrite kept some of the $nFilesBefore picked files")
    // ...still sees its full consistent state (old files live until expire)
    assert(oldView.count() == 300)
    assert(SnapTable.read(spark, root, Some(before.id)).count() == 300)
    // and the compacted head holds exactly the same rows
    val now = SnapTable.read(spark, root).select("id").as[Long].collect().toSet
    assert(now == (0L until 300L).toSet)
    assert(SnapTable.read(spark, root).inputFiles.length == 1)
  }

  test("bounds pruning: manifest-side file skipping with parsed numeric bounds") {
    import spark.implicits._
    val root = tmp("snap4")
    // range-clustered on id -> per-file bounds are tight and disjoint
    SnapTable.append(spark, root,
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      statsCol = Some("id"), clusterFiles = 4)
    val snap = SnapTable.snapshot(spark, root).get
    assert(snap.files.forall(f => f.lo.isDefined && f.hi.isDefined))
    assert(snap.files.length > 1, "need multiple files for a pruning test")
    // numeric parse in the prune callback (lexicographic would be wrong)
    val pruned = SnapTable.read(spark, root,
      prune = Some((lo, hi) => lo.toLong <= 10L && 10L <= hi.toLong))
    assert(pruned.inputFiles.length < snap.files.length)
    assert(pruned.filter(col("id") === 10L).count() == 1)
    // pruning is only a file skip, never a row filter
    assert(pruned.count() >= 1)
  }

  test("optimistic concurrency: racing committers all land, nothing lost") {
    import spark.implicits._
    val root = tmp("snap5")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContextExecutor =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val futures = (0 until 8).map { k =>
      Future {
        SnapTable.append(spark, root,
          Seq((k.toLong, s"writer$k")).toDF("id", "v"))
      }
    }
    val snaps = Await.result(Future.sequence(futures), 120.seconds)
    pool.shutdown()
    // dense ids 1..8, every writer's commit retained
    assert(snaps.map(_.id).sorted == (1L to 8L))
    val ids = SnapTable.read(spark, root).select("id").as[Long].collect().toSet
    assert(ids == (0L until 8L).toSet)
    assert(SnapTable.snapshot(spark, root).get.files.map(_.rows).sum == 8)
  }

  test("rewrite conflict: aborts cleanly instead of resurrecting removed files") {
    import spark.implicits._
    val root = tmp("snap6")
    SnapTable.append(spark, root, (0 until 10).map(i => (i.toLong, "a")).toDF("id", "v"))
    // the conflicting overwrite lands while the rewrite is staging
    val res = SnapTable.rewrite(spark, root,
      pick = _ => true,
      rewriteAs = { df =>
        val materialized = df.collect() // read victims BEFORE they are dropped
        SnapTable.overwrite(spark, root,
          Seq((99L, "new")).toDF("id", "v"))
        spark.createDataFrame(
          spark.sparkContext.parallelize(materialized.toIndexedSeq), df.schema)
      })
    assert(res.isEmpty, "conflicting rewrite must abort")
    // the overwrite won; the aborted rewrite resurrected nothing
    val ids = SnapTable.read(spark, root).select("id").as[Long].collect().toSet
    assert(ids == Set(99L))
    assert(SnapTable.snapshot(spark, root).get.op == "overwrite")
  }

  test("torn state is invisible: tmp manifests and stage orphans are ignored") {
    import spark.implicits._
    val root = tmp("snap7")
    SnapTable.append(spark, root, Seq((1L, "a")).toDF("id", "v"))
    // simulate a crash mid-commit: a leftover manifest tmp...
    val torn = new java.io.File(s"$root/meta/snap-00000002.json.tmp-deadbeef")
    java.nio.file.Files.writeString(torn.toPath, "{\"id\":2,TRUNCATED")
    // ...and an abandoned stage directory
    new java.io.File(s"$root/.stage-crashed").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/.stage-crashed/part-0.parquet"), "junk")
    assert(SnapTable.snapshotIds(spark, root) == Seq(1L))
    assert(SnapTable.read(spark, root).count() == 1)
    // the next commit proceeds normally at v2
    val s2 = SnapTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    assert(s2.id == 2L)
    assert(SnapTable.read(spark, root).count() == 2)
    // torn manifests under their COMMITTED name (non-atomic rename fs):
    // truncated json at v3, valid-json-wrong-crc at v4 — readers fall
    // back to the last parseable snapshot, commits step OVER dead ids
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/meta/snap-00000003.json"), "{\"id\":3,TRUNC")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/meta/snap-00000004.json"),
      "{\"id\":4,\"op\":\"append\",\"watermark\":null,\"files\":[]}\ncrc:1\n")
    assert(SnapTable.snapshot(spark, root).get.id == 2L)
    assert(SnapTable.read(spark, root).count() == 2)
    intercept[IllegalArgumentException] { SnapTable.read(spark, root, Some(3L)) }
    val s5 = SnapTable.append(spark, root, Seq((3L, "c")).toDF("id", "v"))
    assert(s5.id == 5L, s"commit must step over dead ids, got ${s5.id}")
    assert(SnapTable.read(spark, root).count() == 3)
    // expire sweeps the dead ids along with old snapshots
    SnapTable.expire(spark, root, keepLast = 1)
    assert(SnapTable.snapshotIds(spark, root) == Seq(5L))
    assert(SnapTable.read(spark, root).count() == 3)
  }

  test("torn ids sweep without drops; a stray snap-*.bak.json never bricks the table") {
    import spark.implicits._
    // a burned slot below the parseable head goes even at keepLast >
    // count
    val root = tmp("snap14")
    SnapTable.append(spark, root, Seq((1L, "a")).toDF("id", "v"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/meta/snap-00000002.json"), "{\"id\":2,TORN")
    SnapTable.append(spark, root, Seq((2L, "b")).toDF("id", "v")) // lands at 3
    SnapTable.expire(spark, root, keepLast = 10)
    assert(SnapTable.snapshotIds(spark, root) == Seq(1L, 3L),
      "burned torn slot below the head must be swept")
    assert(SnapTable.read(spark, root).select("id").as[Long].collect().toSet == Set(1L, 2L))
    // a stray non-numeric snap file must not brick the table
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/meta/snap-00000003.bak.json"), "junk")
    assert(SnapTable.snapshotIds(spark, root) == Seq(1L, 3L))
    assert(SnapTable.append(spark, root, Seq((9L, "c")).toDF("id", "v")).id == 4L)
  }

  test("swept burned slots, adjacent ones too, never move the head") {
    import spark.implicits._
    def ids(root: String) = SnapTable.read(spark, root).select("id").as[Long].collect().toSet
    val root = tmp("snap15")
    for (i <- 1 to 3)
      SnapTable.append(spark, root, Seq((i.toLong, "x")).toDF("id", "v"))
    // burn slot 4: a crashed publish left a torn manifest under its
    // committed name (non-atomic-rename filesystem); commits step over
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/meta/snap-00000004.json"), "{\"id\":4,TORN")
    for (_ <- 0 until 2)
      SnapTable.append(spark, root, Seq((9L, "y")).toDF("id", "v")) // -> 5, 6
    SnapTable.expire(spark, root, keepLast = 10)
    assert(!new java.io.File(s"$root/meta/snap-00000004.json").exists(),
      "burned slot must still sweep")
    assert(SnapTable.snapshot(spark, root).get.id == 6L)
    assert(ids(root) == Set(1L, 2L, 3L, 9L))
    // ADJACENT burned slots (repeated crashed publishes between two
    // successful ones) leave a two-id hole; the listing resolves the
    // head across it and the next commit lands above it
    val root2 = tmp("snap16")
    for (i <- 1 to 3)
      SnapTable.append(spark, root2, Seq((i.toLong, "x")).toDF("id", "v"))
    for (b <- 4 to 5)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        f"$root2/meta/snap-$b%08d.json"), s"""{"id":$b,TORN""")
    SnapTable.append(spark, root2, Seq((9L, "y")).toDF("id", "v")) // -> 6
    SnapTable.expire(spark, root2, keepLast = 10)
    assert(!new java.io.File(f"$root2/meta/snap-${4}%08d.json").exists())
    assert(!new java.io.File(f"$root2/meta/snap-${5}%08d.json").exists())
    assert(SnapTable.snapshotIds(spark, root2) == Seq(1L, 2L, 3L, 6L))
    assert(SnapTable.snapshot(spark, root2).get.id == 6L,
      "adjacent burned slots resolved a stale head")
    assert(SnapTable.append(spark, root2, Seq((10L, "z")).toDF("id", "v")).id == 7L)
    assert(ids(root2) == Set(1L, 2L, 3L, 9L, 10L))
  }

  test("damage BELOW the cut never bricks expire") {
    import spark.implicits._
    val root = tmp("snap19")
    for (i <- 1 to 8)
      SnapTable.append(spark, root, Seq((i.toLong, "x")).toDF("id", "v"))
    // rot a manifest deep in history: head reads are unaffected, and
    // expire must STILL work — "expire the table past it" is the
    // recovery for a damaged old manifest
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/meta/snap-00000002.json"), "{\"id\":2,ROT")
    new java.io.File(s"$root/meta/.snap-00000002.json.crc").delete()
    assert(SnapTable.read(spark, root).count() == 8)
    SnapTable.expire(spark, root, keepLast = 2)
    assert(SnapTable.snapshotIds(spark, root) == Seq(7L, 8L))
    assert(SnapTable.read(spark, root).count() == 8) // data intact
  }

  test("model check: random append/overwrite/rewrite/expire sequences match a reference model") {
    import spark.implicits._
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(4242 + trial)
      val root = tmp(s"snapm$trial")
      var model = Set.empty[Long] // current table content (ids unique per insert)
      var nextId = 0L
      var history = Vector.empty[(Long, Set[Long])] // snapshot id -> content
      def freshIds(n: Int): Seq[Long] = {
        val ids = (nextId until nextId + n).toSeq; nextId += n; ids
      }
      def readIds(asOf: Option[Long]): Set[Long] =
        SnapTable.read(spark, root, asOf).select("id").as[Long].collect().toSet
      for (_ <- 0 until 10) {
        rnd.nextInt(4) match {
          case 0 =>
            val ids = freshIds(1 + rnd.nextInt(5))
            val s = SnapTable.append(spark, root, ids.toDF("id"))
            model ++= ids; history :+= (s.id -> model)
          case 1 =>
            val ids = freshIds(1 + rnd.nextInt(3))
            val s = SnapTable.overwrite(spark, root, ids.toDF("id"))
            model = ids.toSet; history :+= (s.id -> model)
          case 2 => // compaction must never change content
            SnapTable.rewrite(spark, root, _ => true, _.repartition(1))
              .foreach(s => history :+= (s.id -> model))
          case 3 if history.size > 2 =>
            val keep = 1 + rnd.nextInt(history.size)
            SnapTable.expire(spark, root, keep)
            history = history.takeRight(keep)
          case _ => ()
        }
        // invariants: head matches the model; ALL retained history is
        // still exactly readable (snapshot isolation + GC safety)
        if (history.nonEmpty) {
          assert(readIds(None) == model, s"head mismatch at trial $trial")
          for ((sid, ids) <- history)
            assert(readIds(Some(sid)) == ids, s"snapshot $sid mismatch at trial $trial")
        }
      }
    }
  }

  private def manifestPath(root: String, v: Long): java.nio.file.Path =
    java.nio.file.Paths.get(f"$root/meta/snap-$v%08d.json")

  private def manifestJson(root: String, v: Long): graft.json.JObj = {
    import graft.json.{JObj, Json}
    Json.parse(java.nio.file.Files.readString(manifestPath(root, v)).split("\n")(0))
      .asInstanceOf[JObj]
  }

  private def listedFiles(root: String, v: Long): Vector[String] = {
    import graft.json.{JArr, JObj, JStr}
    manifestJson(root, v)("files").asInstanceOf[JArr].items
      .map(_.asInstanceOf[JObj]("path").asInstanceOf[JStr].s)
  }

  private def idSet(df: org.apache.spark.sql.DataFrame): Set[Long] = {
    import spark.implicits._
    df.select("id").as[Long].collect().toSet
  }

  /** Appends, a compaction, an overwrite and an append after it; returns
   *  the table root and the expected content of each snapshot (index v-1). */
  private def mixedHistory(prefix: String): (String, Vector[Set[Long]]) = {
    import spark.implicits._
    val root = tmp(prefix)
    var model = Vector.empty[Set[Long]]
    for (i <- 1 to 4) {
      SnapTable.append(spark, root, Seq((i.toLong, "x")).toDF("id", "v"))
      model :+= (1L to i.toLong).toSet
    }
    SnapTable.rewrite(spark, root, _ => true, _.repartition(1)); model :+= model.last
    SnapTable.append(spark, root, Seq((5L, "x")).toDF("id", "v")); model :+= model.last + 5L
    SnapTable.overwrite(spark, root, Seq((99L, "y")).toDF("id", "v")); model :+= Set(99L)
    SnapTable.append(spark, root, Seq((100L, "y")).toDF("id", "v")); model :+= Set(99L, 100L)
    (root, model)
  }

  test("each manifest lists the full file set and alone reads back its snapshot") {
    val (root, model) = mixedHistory("snap17")
    val head = model.length.toLong
    assert(SnapTable.snapshotIds(spark, root) == (1L to head))
    for (v <- 1L to head) {
      // one format: the four keys, no delta or lineage fields
      val keys = manifestJson(root, v).fields.map(_._1)
      assert(keys.toSet == Set("id", "op", "watermark", "files"), keys)
      // the manifest ALONE is the whole table: its files read back to
      // exactly the snapshot's content, and it agrees with the reader
      assert(idSet(spark.read.parquet(listedFiles(root, v): _*)) == model((v - 1).toInt),
        s"snap $v")
      assert(listedFiles(root, v).toSet ==
        SnapTable.snapshot(spark, root, Some(v)).get.files.map(_.path).toSet)
    }
  }

  test("a damaged older manifest never alters newer reads; restoring it recovers") {
    import spark.implicits._
    val (root, model) = mixedHistory("snap20")
    val head = model.length.toLong
    def readsIntact(): Unit = {
      assert(idSet(SnapTable.read(spark, root)) == model.last)
      for (v <- Seq(2L, 4L, 6L, 7L))
        assert(idSet(SnapTable.read(spark, root, Some(v))) == model((v - 1).toInt), s"snap $v")
    }
    // rot an older manifest: every newer read is unchanged, only the
    // damaged id itself refuses to time-travel
    val original = java.nio.file.Files.readAllBytes(manifestPath(root, 3))
    java.nio.file.Files.writeString(manifestPath(root, 3), "{\"id\":3,ROT")
    new java.io.File(s"$root/meta/.snap-00000003.json.crc").delete()
    readsIntact()
    intercept[IllegalArgumentException] { SnapTable.read(spark, root, Some(3L)) }
    // restoring the damaged file fully recovers it
    java.nio.file.Files.write(manifestPath(root, 3), original)
    new java.io.File(s"$root/meta/.snap-00000003.json.crc").delete()
    assert(idSet(SnapTable.read(spark, root, Some(3L))) == model(2))
    // a CRC-valid manifest without a "files" list (e.g. a retired
    // delta shape) is torn: stepped over, never served as the table
    val forged = """{"id":9,"op":"append","watermark":null,"adds":[]}"""
    val crc = new java.util.zip.CRC32
    crc.update(forged.getBytes("UTF-8"))
    java.nio.file.Files.writeString(manifestPath(root, 9), s"$forged\ncrc:${crc.getValue}\n")
    assert(SnapTable.snapshot(spark, root).get.id == head)
    readsIntact()
    // a CRC-less manifest is torn too
    java.nio.file.Files.writeString(manifestPath(root, 10),
      """{"id":10,"op":"append","watermark":null,"files":[]}""" + "\n")
    assert(SnapTable.snapshot(spark, root).get.id == head)
    readsIntact()
    assert(SnapTable.append(spark, root, Seq((101L, "z")).toDF("id", "v")).id == 11L)
    // the next commit builds on the last parseable head, not the torn ids
    assert(listedFiles(root, head).toSet.subsetOf(listedFiles(root, 11).toSet) &&
      listedFiles(root, 11).size == listedFiles(root, head).size + 1)
    assert(idSet(SnapTable.read(spark, root)) == model.last + 101L)
  }

  test("expire(keepLast = k) leaves exactly k parseable snapshots") {
    import spark.implicits._
    val root = tmp("snap18")
    for (i <- 1 to 3)
      SnapTable.append(spark, root, Seq((i.toLong, "x")).toDF("id", "v"))
    // a burned slot never occupies a keep slot
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/meta/snap-00000004.json"), "{\"id\":4,TORN")
    for (i <- 5 to 7)
      SnapTable.append(spark, root, Seq((i.toLong, "x")).toDF("id", "v"))
    SnapTable.rewrite(spark, root, _ => true, _.repartition(1)) // -> 8
    val content = Set(1L, 2L, 3L, 5L, 6L, 7L)
    val parseable = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L)
    SnapTable.expire(spark, root, keepLast = 10)
    assert(SnapTable.snapshotIds(spark, root) == parseable)
    for (k <- Seq(6, 4, 3, 1)) {
      SnapTable.expire(spark, root, keepLast = k)
      val kept = SnapTable.snapshotIds(spark, root)
      assert(kept == parseable.takeRight(k), s"keepLast=$k kept $kept")
      for (v <- kept)
        assert(SnapTable.read(spark, root, Some(v)).count() ==
          content.count(_ <= v), s"keepLast=$k snap $v")
    }
    // with one snapshot left, data/ holds exactly the head's files
    val live = SnapTable.snapshot(spark, root).get.files
      .map(e => new org.apache.hadoop.fs.Path(e.path).getName).toSet
    val data = new java.io.File(s"$root/data").listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
    assert(data == live && live.size == 1)
    assert(SnapTable.read(spark, root).select("id").as[Long].collect().toSet == content)
  }

  test("expire: drops old manifests, GCs orphan data, keeps live files") {
    import spark.implicits._
    val root = tmp("snap8")
    SnapTable.append(spark, root, (0 until 20).map(i => (i.toLong, "a")).toDF("id", "v"))
    SnapTable.append(spark, root, (20 until 40).map(i => (i.toLong, "b")).toDF("id", "v"))
    SnapTable.rewrite(spark, root, _ => true, _.repartition(1))
    assert(SnapTable.snapshotIds(spark, root) == Seq(1L, 2L, 3L))
    val liveFiles = SnapTable.snapshot(spark, root).get.files.map(_.path).toSet
    SnapTable.expire(spark, root, keepLast = 1)
    assert(SnapTable.snapshotIds(spark, root) == Seq(3L))
    // pre-rewrite data files are gone, live ones intact, reads still work
    val dataFiles = new java.io.File(s"$root/data").listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).toSet
    assert(dataFiles == liveFiles.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath))
    assert(SnapTable.read(spark, root).count() == 40)
    intercept[IllegalArgumentException] { SnapTable.read(spark, root, Some(1L)) }
  }

  test("commit CAS never clobbers: the lost publisher leaves the winner's manifest intact") {
    import spark.implicits._
    val root = tmp("snap11")
    SnapTable.append(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"$root/meta/cas-target")
    def writeTmp(content: String): org.apache.hadoop.fs.Path = {
      val t = new org.apache.hadoop.fs.Path(s"$root/meta/.cas-tmp-${content.hashCode}")
      val o = fs.create(t, true); o.write(content.getBytes("UTF-8")); o.close(); t
    }
    // first publisher wins, its tmp is consumed
    val t1 = writeTmp("winner")
    assert(SnapTable.publishNoClobber(fs, spark, t1, dst))
    assert(!fs.exists(t1))
    // second publisher LOSES and the winner's bytes survive — on the
    // local filesystem a plain rename would have silently clobbered
    val t2 = writeTmp("clobberer")
    assert(!SnapTable.publishNoClobber(fs, spark, t2, dst))
    val in = fs.open(dst)
    val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(got == "winner")
  }

  test("expire sweeps aged orphans from crashed appends; fresh and live files survive") {
    import spark.implicits._
    val root = tmp("snap12")
    SnapTable.append(spark, root, (0 until 10).map(i => (i.toLong, "a")).toDF("id", "v"))
    val live = SnapTable.snapshot(spark, root).get.files
      .map(p => new org.apache.hadoop.fs.Path(p.path).getName).toSet
    // simulate a writer that crashed between staging and the CAS:
    // uuid-named data files referenced by NO manifest, plus a stale
    // .stage-* dir
    val dataDir = new java.io.File(s"$root/data")
    val orphanOld = new java.io.File(dataDir, "deadbeef-00000.parquet")
    java.nio.file.Files.writeString(orphanOld.toPath, "stray")
    val orphanFresh = new java.io.File(dataDir, "cafebabe-00000.parquet")
    java.nio.file.Files.writeString(orphanFresh.toPath, "inflight")
    orphanFresh.setLastModified(System.currentTimeMillis()) // fresh: protected by the grace window
    val staleStage = new java.io.File(s"$root/.stage-deadbeef")
    staleStage.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(staleStage, "part-0.parquet").toPath, "x")
    orphanOld.setLastModified(System.currentTimeMillis() - 100000)
    staleStage.setLastModified(System.currentTimeMillis() - 100000)
    SnapTable.expire(spark, root, keepLast = 1, orphanGraceMs = 50000)
    assert(!orphanOld.exists(), "aged orphan data file must be swept")
    assert(!staleStage.exists(), "stale .stage dir must be swept")
    assert(orphanFresh.exists(), "a fresh (possibly in-flight) stage file must survive the grace window")
    val remaining = dataDir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(live.subsetOf(remaining))
    assert(SnapTable.read(spark, root).count() == 10)
  }

  test("manifest tag round-trips and pre-tag manifests parse as None") {
    import spark.implicits._
    val root = tmp("snap13")
    SnapTable.append(spark, root, Seq((1L, "a")).toDF("id", "v"), tag = Some("b:7"))
    SnapTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    val files = SnapTable.snapshot(spark, root).get.files
    assert(files.flatMap(_.tag).toSet == Set("b:7"))
    assert(files.count(_.tag.isEmpty) == files.size - files.count(_.tag.isDefined) &&
      files.exists(_.tag.isEmpty))
  }

  test("stats read under the written schema: manifest rows and bounds match each file") {
    import spark.implicits._
    val nullable = Seq[(Option[Long], String)]((Some(3L), "c"), (None, "n"), (Some(1L), "a"),
      (Some(9L), "i"), (None, "m"), (Some(4L), "d")).toDF("id", "v")
    // spark.range's id is NOT nullable; the parquet files mark it required
    val required = spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 7).cast("string").as("v"))
    assert(!required.schema("id").nullable && nullable.schema("id").nullable)
    for ((df, name) <- Seq(nullable -> "nullable", required -> "required")) {
      val totals = for (stats <- Seq(Some("id"), Some("v"), None)) yield {
        val root = tmp(s"snap14$name")
        val files = SnapTable.append(spark, root, df, statsCol = stats,
          clusterFiles = 3).files
        // the reference: each file read on its own, schema inferred
        for (f <- files) {
          val r = spark.read.parquet(f.path)
          val want = stats match {
            case Some(c) => r.agg(count(lit(1)), min(col(c)).cast("string"),
              max(col(c)).cast("string")).head()
            case None => r.agg(count(lit(1)), lit(null).cast("string"),
              lit(null).cast("string")).head()
          }
          assert((f.rows, f.lo, f.hi) ==
            ((want.getLong(0), Option(want.getString(1)), Option(want.getString(2)))),
            s"$name statsCol=$stats ${f.path}")
        }
        assert(files.forall(_.rows > 0))
        files.map(_.rows).sum
      }
      // every row counted, null stats values too, with or without statsCol
      assert(totals.distinct == Seq(df.count()), s"$name: $totals")
    }
  }
}
