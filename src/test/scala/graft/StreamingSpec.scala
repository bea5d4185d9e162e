package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.ingest.SynthCorpus

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("startSnap: snapshot-watermark sink == batch triples; checkpoint-loss replay appends nothing") {
    import spark.implicits._
    import graft.table.SnapTable
    val base = java.nio.file.Files.createTempDirectory("ssnap").toString
    val docs = SynthCorpus.corpus(spark, 24)
    docs.write.parquet(s"$base/docs")
    val dict = Pipeline.broadcastDict(spark)
    StreamingPipeline.startSnap(spark, s"$base/docs", s"$base/tbl", s"$base/ckpt", dict)
      .awaitTermination()
    def rows() = SnapTable.read(spark, s"$base/tbl")
      .select("doc_id", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .sorted.toVector
    val batch = Pipeline.triples(docs, dict).collect()
      .map(t => (t.doc_id, t.subj, t.pred, t.obj)).sorted.toVector
    assert(rows() == batch && batch.nonEmpty)
    val snapBefore = SnapTable.snapshot(spark, s"$base/tbl").get
    assert(snapBefore.watermark.contains("1:0"), // epoch 1, batch 0, atomic with data
      snapBefore.watermark.toString)
    // FORCED full replay: lose the checkpoint entirely — the epoch bumps
    // and the doc-level anti-join finds nothing new: content unchanged
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/ckpt"))
    StreamingPipeline.startSnap(spark, s"$base/docs", s"$base/tbl", s"$base/ckpt", dict)
      .awaitTermination()
    val snapReplay = SnapTable.snapshot(spark, s"$base/tbl").get
    assert(snapReplay.files == snapBefore.files && snapReplay.watermark.contains("2:0"),
      s"${snapReplay.files.length - snapBefore.files.length} files added, wm=${snapReplay.watermark}")
    assert(rows() == batch)
    // the data-loss case: checkpoint lost AND new docs arrived — the
    // replayed mega-batch (old+new files as batch 0) must append the
    // new docs exactly once, never skip them on the watermark
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/ckpt"))
    val maxId = docs.agg(org.apache.spark.sql.functions.max($"doc_id")).as[String].head
    SynthCorpus.corpus(spark, 30).filter($"doc_id" > maxId)
      .write.mode("append").parquet(s"$base/docs")
    StreamingPipeline.startSnap(spark, s"$base/docs", s"$base/tbl", s"$base/ckpt", dict)
      .awaitTermination()
    val withNew = rows()
    val batchAll = Pipeline.triples(SynthCorpus.corpus(spark, 30), dict).collect()
      .map(t => (t.doc_id, t.subj, t.pred, t.obj)).sorted.toVector
    assert(withNew == batchAll, // old docs exactly once, new docs present
      s"got ${withNew.length} vs ${batchAll.length}")
    // with the checkpoint intact, later batches take the fast path
    SynthCorpus.corpus(spark, 33).filter($"doc_id" > SynthCorpus.docId(29))
      .write.mode("append").parquet(s"$base/docs")
    StreamingPipeline.startSnap(spark, s"$base/docs", s"$base/tbl", s"$base/ckpt", dict)
      .awaitTermination()
    val rows33 = rows()
    assert(rows33.length > batchAll.length)
    assert(SnapTable.snapshot(spark, s"$base/tbl").get.watermark.contains("3:1"))
    // epoch crash-safety: a run that decided a fresh epoch, persisted
    // the marker, let the engine create the checkpoint, then CRASHED
    // before its first table commit. The restart must honor the MARKER
    // (epoch 4), not infer "same epoch" from the existing offsets dir —
    // the old inference skipped the folded batch whole and lost the
    // new docs
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$base/ckpt"))
    new java.io.File(s"$base/ckpt/offsets").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/ckpt/graft-epoch"), "4")
    SynthCorpus.corpus(spark, 36).filter($"doc_id" > SynthCorpus.docId(32))
      .write.mode("append").parquet(s"$base/docs")
    StreamingPipeline.startSnap(spark, s"$base/docs", s"$base/tbl", s"$base/ckpt", dict)
      .awaitTermination()
    val finalRows = rows()
    val batch36 = Pipeline.triples(SynthCorpus.corpus(spark, 36), dict).collect()
      .map(t => (t.doc_id, t.subj, t.pred, t.obj)).sorted.toVector
    assert(finalRows == batch36, // new docs landed exactly once, old not duplicated
      s"got ${finalRows.length} vs ${batch36.length}")
    assert(SnapTable.snapshot(spark, s"$base/tbl").get.watermark.contains("4:0"))
    // streamed batches share the batch writer's layout: manifest-side
    // bucket pruning to one predicate's bucket keeps its rows intact
    val somePred = batch.head._3
    val pruned = Pipeline.readTriplesSnap(spark, s"$base/tbl",
      Some(Set(Pipeline.predBucketOf(somePred))))
      .filter($"pred" === somePred).count()
    val full = Pipeline.readTriplesSnap(spark, s"$base/tbl")
      .filter($"pred" === somePred).count()
    assert(pruned == full && full > 0)
    // and --resume over the streamed table finds every doc committed
    assert(Pipeline.resumeFilter(SynthCorpus.corpus(spark, 36), s"$base/tbl").count() == 0)
    // per-batch lineage metrics landed in the snapshot-committed
    // metrics table, one commit per DATA-WRITING batch (replays and
    // empty folds wrote none), watermark in step with the data table
    val m = SnapTable.read(spark, s"$base/tbl_metrics")
    assert(m.columns.toSet == Set("partition_id", "doc_count",
      "triple_count", "min_doc", "max_doc", "run_id", "stage"))
    val runs = m.select("run_id").distinct().as[String].collect().toSet
    assert(runs == Set("1:0", "3:0", "3:1", "4:0"), runs.toString) // 2:0 wrote no data
    assert(SnapTable.lastWatermark(spark, s"$base/tbl_metrics").contains("4:0"))
    // metric totals reconcile with the table itself
    val mTriples = m.agg(org.apache.spark.sql.functions.sum($"triple_count"))
      .head.getLong(0)
    assert(mTriples == SnapTable.read(spark, s"$base/tbl").count(), s"$mTriples")
  }

  test("watermarked windowed aggregation == batch over emitted windows") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("swin").toString
    // events parquet (ts timestamp_ntz in this testdata: cast for event time)
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("cast(ts as timestamp) as ts", "event_type")
    ev.write.parquet(s"$base/events")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$base/events")
    val q = graft.streaming.StreamingWindows.windowedCounts(stream)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$base/out")
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .collect().map(_.toString).sorted.toVector
    val batch = graft.streaming.StreamingWindows.batchEmittedCounts(ev)
      .collect().map(_.toString).sorted.toVector
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stateful streaming dedup: first-seen wins across micro-batches and restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sdedup").toString
    val docSchema = org.apache.spark.sql.Encoders.product[graft.ingest.Doc].schema
    def runOnce(): Unit = {
      val docs = spark.readStream.schema(docSchema)
        .parquet(s"$base/docs").as[graft.ingest.Doc]
      val q = graft.streaming.StreamingDedup.dedupStream(docs)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    }
    def doc(id: String, text: String) = graft.ingest.SpanCodec.encode(id, text)
    // batch 1: two unique texts, one in-batch duplicate
    spark.createDataset(Seq(
      doc("d1", "alpha beta\n"), doc("d2", "gamma delta\n"),
      doc("d3", "alpha beta\n"))).write.parquet(s"$base/docs")
    runOnce()
    // batch 2 (new file): one cross-batch duplicate + one new text
    spark.createDataset(Seq(
      doc("d4", "alpha beta\n"), doc("d5", "epsilon zeta\n")))
      .write.mode("append").parquet(s"$base/docs")
    runOnce() // same checkpoint: state survives the restart
    val kept = spark.read.parquet(s"$base/out").select("doc_id")
      .as[String].collect().sorted.toVector
    assert(kept == Vector("d1", "d2", "d5"), kept)
  }

  test("RocksDB state store: dedup state survives restart under the deployable provider") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("srocks").toString
    val docSchema = org.apache.spark.sql.Encoders.product[graft.ingest.Doc].schema
    // the provider class is read from the session conf at query start
    val prior = graft.streaming.StreamingDedup.rocksDbStateStoreConfigs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    graft.streaming.StreamingDedup.rocksDbStateStoreConfigs
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def runOnce(): Unit = {
        val docs = spark.readStream.schema(docSchema)
          .parquet(s"$base/docs").as[graft.ingest.Doc]
        val q = graft.streaming.StreamingDedup.dedupStream(docs)
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", s"$base/out")
          .start()
        q.awaitTermination()
      }
      def doc(id: String, text: String) = graft.ingest.SpanCodec.encode(id, text)
      spark.createDataset(Seq(
        doc("r1", "alpha beta\n"), doc("r2", "gamma delta\n"),
        doc("r3", "alpha beta\n"))).write.parquet(s"$base/docs")
      runOnce()
      spark.createDataset(Seq(
        doc("r4", "alpha beta\n"), doc("r5", "epsilon zeta\n")))
        .write.mode("append").parquet(s"$base/docs")
      runOnce() // restart on the same checkpoint: RocksDB state must survive
      val kept = spark.read.parquet(s"$base/out").select("doc_id")
        .as[String].collect().sorted.toVector
      assert(kept == Vector("r1", "r2", "r5"), kept)
      // prove the query actually ran on RocksDB: its checkpoint layout
      // (SST/changelog artifacts under state/) is provider-specific
      val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/ckpt/state"))
        .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(stateFiles)
        .asScala.map(_.getFileName.toString).toVector
      assert(names.exists(n => n.endsWith(".changelog") || n.endsWith(".zip")),
        s"no RocksDB artifacts in checkpoint: ${names.take(20)}")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("streaming near-dup LSH: incremental pairs == batch pair set, incl. cross-restart pairs") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sneardup").toString
    // groups of 4 share one text; the 28..31 group SPANS the batch split
    def df(ids: Range) = ids
      .map(i => (f"d$i%04d", graft.ingest.SynthCorpus.docText(i - i % 4)))
      .toDF("doc_id", "text")
    val schema = df(0 until 1).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$base/docs")
      val q = graft.streaming.StreamingNearDup.candidatePairs(stream)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out").start()
      q.awaitTermination()
    }
    def emitted() = spark.read.parquet(s"$base/out")
      .as[(String, String)].collect().toSet
    df(0 until 30).write.parquet(s"$base/docs")
    runOnce()
    val afterB1 = emitted()
    df(30 until 60).write.mode("append").parquet(s"$base/docs")
    runOnce() // restart on the same checkpoint: bucket state survives
    val streamed = emitted()
    val batch = graft.ops.Dedup
      .lshCandidatePairsFast(df(0 until 60), "doc_id", "text")
      .as[(String, String)].collect().toSet
    assert(streamed == batch, s"missing=${(batch -- streamed).take(5)} " +
      s"extra=${(streamed -- batch).take(5)}")
    // a batch-2 doc paired against batch-1 state (the 28..31 group)
    assert((streamed -- afterB1).exists { case (a, b) =>
      a < "d0030" && b >= "d0030" })
    // NUMERIC ids order natively: 9 pairs BEFORE 10 (lexicographic
    // "10" < "9" would invert the orientation vs the batch recipe)
    val num = Seq(9L, 10L, 2L)
      .map(i => (i, graft.ingest.SynthCorpus.docText(if (i == 2L) 900 else 0)))
      .toDF("doc_id", "text")
    val numPairs = graft.streaming.StreamingNearDup.candidatePairs(num)
      .collect().map(p => (p.id1, p.id2)).toSet
    assert(numPairs.contains(("9", "10")) && !numPairs.contains(("10", "9")),
      numPairs.toString)
    val numBatch = graft.ops.Dedup.lshCandidatePairsFast(num, "doc_id", "text")
      .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet
    assert(numPairs == numBatch, s"streaming=$numPairs batch=$numBatch")
  }

  test("streaming line dedup: kept set == batch rule over doc-ordered batches + restarts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("slinededup").toString
    // every doc: shared banner + unique body line + short "ok" line;
    // docs 28/29 and 30/31 also share one body line ACROSS the batch split
    def df(ids: Range) = ids.map { i =>
      val body = if (i >= 28 && i <= 31) "cross batch shared body line"
        else s"unique body line number $i"
      (f"d$i%04d", s"COOKIE BANNER ACCEPT ALL\n$body\nok")
    }.toDF("doc_id", "text")
    val schema = df(0 until 1).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$base/docs")
      val q = graft.streaming.StreamingLineDedup.keptLines(stream)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out").start()
      q.awaitTermination()
    }
    def emitted() = spark.read.parquet(s"$base/out")
      .as[(String, Int, String)].collect().toSet
    df(0 until 30).write.parquet(s"$base/docs")
    runOnce()
    val afterB1 = emitted()
    df(30 until 60).write.mode("append").parquet(s"$base/docs")
    runOnce() // same checkpoint: line state survives the restart
    val streamed = emitted()
    val batch = graft.ops.Dedup.markDupLines(df(0 until 60), "doc_id", "text")
      .filter(col("keep")).select(col("doc_id"), col("idx"), col("line"))
      .as[(String, Int, String)].collect().toSet
    assert(streamed == batch, s"missing=${(batch -- streamed).take(5)} " +
      s"extra=${(streamed -- batch).take(5)}")
    // cross-restart suppression: d0030/31's shared body line was claimed
    // by d0028 in run 1, and no batch-2 doc re-emits the banner
    assert(!(streamed -- afterB1).exists(_._3 == "cross batch shared body line"))
    assert(!(streamed -- afterB1).exists(_._3 == "COOKIE BANNER ACCEPT ALL"))
    // short lines bypass state: every doc keeps its "ok"
    assert(streamed.count(_._3 == "ok") == 60)
  }

  test("streaming line dedup == batch for numeric-id same-batch ties and astral minLen") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("slinenum").toString
    // ids 9 and 10 share a line in ONE micro-batch: lexicographic
    // "10" < "9" would keep doc 10; the batch window on the long id
    // keeps doc 9. Also: a 3-astral-char line (3 codepoints, 6 UTF-16
    // units) must stay INELIGIBLE at minLen=5 in both engines.
    val astral = "😀😁😂" // 3 emoji
    val docs = Seq(
      (9L, s"tied across nine and ten\n$astral"),
      (10L, s"tied across nine and ten\n$astral"),
      (2L, "a doc of its very own"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$base/docs")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$base/docs")
    val q = graft.streaming.StreamingLineDedup.keptLines(stream)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$base/out").start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .as[(String, Int, String)].collect().toSet
    val batch = graft.ops.Dedup.markDupLines(docs, "doc_id", "text")
      .filter(col("keep"))
      .select(col("doc_id").cast("string"), col("idx"), col("line"))
      .as[(String, Int, String)].collect().toSet
    assert(streamed == batch, s"missing=${batch -- streamed} extra=${streamed -- batch}")
    // the tie went to doc 9, and BOTH docs kept the short astral line
    assert(streamed.contains(("9", 0, "tied across nine and ten")))
    assert(!streamed.contains(("10", 0, "tied across nine and ten")))
    assert(streamed.count(_._3 == astral) == 2)
  }

  test("streaming decontamination: hit set == batch operator across a checkpointed restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sdecontam").toString
    val n = 3
    val bench = Seq(
      ("b1", "the capital of france is paris"),
      ("b2", "what is the boiling point of water")).toDF("bid", "text")
    def df(ids: Range) = ids.map { i =>
      val t = i % 4 match {
        case 0 => s"totally clean document number $i with original content"
        case 1 => s"quiz leak the capital of france happens to be mentioned here $i"
        case 2 => s"another clean one $i nothing shared at all"
        case _ => s"trivia $i the boiling point of water is well known"
      }
      (f"d$i%04d", t)
    }.toDF("doc_id", "text")
    val schema = df(0 until 1).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$base/docs")
      val q = graft.streaming.StreamingDecontam.hits(stream, bench, "doc_id", "text", n)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out").start()
      q.awaitTermination()
    }
    df(0 until 12).write.parquet(s"$base/docs")
    runOnce()
    df(12 until 24).write.mode("append").parquet(s"$base/docs")
    runOnce() // same checkpoint: already-processed docs are not re-emitted
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "ng").as[(String, String)].collect()
    // no doc processed twice (restart did not replay batch 1)
    assert(streamed.length == streamed.distinct.length, "duplicate hits after restart")
    val perDoc = streamed.groupBy(_._1).map { case (d, hs) => d -> hs.length.toLong }
    val batch = graft.ops.TextAnalysis.decontaminate(df(0 until 24), bench, "doc_id", "text", n)
      .as[(String, Long)].collect().toMap
    assert(perDoc == batch, s"streamed=$perDoc batch=$batch")
    assert(batch.nonEmpty && batch.keys.forall(d => d.drop(1).toInt % 2 == 1))
  }

  test("streaming excision: decisions replay to the batch operator's kept_md5 across a restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sexcise").toString
    val n = 4
    val boiler = "all rights reserved by the site owner"   // 7 tokens: dup n-grams
    def df(ids: Range) = ids.map { i =>
      val t =
        if (i % 3 == 2) s"unique article body $i with plenty of fresh words here. $boiler"
        else s"page $i says something new and then repeats. $boiler"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val schema = df(0 until 1).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$base/docs")
      val q = graft.streaming.StreamingExcision.excisedOccurrences(stream, "text", n)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out").start()
      q.awaitTermination()
    }
    df(0 until 9).write.parquet(s"$base/docs")
    runOnce()
    df(9 until 18).write.mode("append").parquet(s"$base/docs")
    runOnce() // same checkpoint: n-gram claims survive the restart
    val decisions = spark.read.parquet(s"$base/out")
      .as[(String, Int)].collect().groupBy(_._1.toLong)
      .map { case (d, xs) => d -> xs.map(_._2).toSet }
    val docs = df(0 until 18)
    // replay: excise positions i..i+n-1 for each decision, rebuild text
    val replayed = docs.collect().map { r =>
      val id = r.getLong(0)
      val toks = r.getString(1).split("\\s+")
      val cover = decisions.getOrElse(id, Set.empty)
        .flatMap(i => i until math.min(i + n, toks.length))
      val kept = toks.zipWithIndex.collect { case (t, j) if !cover(j) => t }
      id -> ((toks.length.toLong, cover.size.toLong,
        java.security.MessageDigest.getInstance("MD5")
          .digest(kept.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString))
    }.toMap
    val batch = graft.ops.Dedup.exciseDupSpans(docs, "doc_id", "text", n)
      .select("doc_id", "n_tokens", "n_excised", "kept_md5")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(replayed == batch,
      s"diff=${replayed.toSet.diff(batch.toSet).take(3)} / ${batch.toSet.diff(replayed.toSet).take(3)}")
    // the boilerplate really was excised somewhere past doc 0
    assert(decisions.keys.exists(_ > 0L) && batch(1L)._2 > 0L)
  }

  test("streaming curation funnel == batch curate across batches, restart, and a replayed batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("scurate").toString
    val de = "der hund und die katze ist nicht ein freund aber das wetter ist gut und alle sind froh heute"
    def enDoc(i: Long) =
      s"the measurement number $i of this series has finished and the result " +
        "of all tests is good so we have recorded it with great care today"
    // batch 1: ids 0-19; batch 2: ids 20-39 (doc-ordered). Duplicates
    // WITHIN batch 1 (ids 3==4), ACROSS batches (21 == 5), a German doc
    // per batch, a null-text doc, and a shared boilerplate line
    def text(i: Long): String = i match {
      case 4L => enDoc(3)
      case 21L => enDoc(5)
      case 7L | 27L => de
      case 9L => null
      case _ => enDoc(i)
    }
    def df(ids: Range) = ids.map(i => (i.toLong, {
      val t = text(i); if (t == null) null else "SHARED BOILERPLATE NAVIGATION LINE\n" + t
    })).toDF("doc_id", "text")
    val cfg = graft.ops.Curation.CurateConfig(
      keepLangs = Set("en"), minWords = 10, sampleFraction = 0.8)
    df(0 until 20).write.parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg).awaitTermination()
    df(20 until 40).write.mode("append").parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg).awaitTermination() // same checkpoint: claims survive restart
    val streamed = spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap
    val batch = graft.ops.Curation.curate(df(0 until 40), "doc_id", "text", cfg)
      .as[(Long, String)].collect().toMap
    assert(streamed == batch,
      s"missing=${(batch.keySet -- streamed.keySet)} extra=${(streamed.keySet -- batch.keySet)}")
    // the interesting decisions really happened: in-batch dup 4 lost to
    // 3, cross-batch dup 21 lost to 5, German and null-text dropped
    assert(batch.contains(3L) && !batch.contains(4L) && !batch.contains(21L))
    assert(!batch.contains(7L) && !batch.contains(9L))
    assert(batch.size > 10)
    // replaying an already-processed batch id is idempotent: the claim
    // commit is skipped on the table watermark, output overwritten
    val before = spark.read.parquet(s"$base/out/curated").count()
    val linesBefore = graft.table.SnapTable.read(spark, s"$base/out/_lines_seen").count()
    val snapBefore = graft.table.SnapTable.snapshot(spark, s"$base/out/_lines_seen").get.id
    graft.streaming.StreamingCuration.processBatch(
      df(0 until 20), 0L, s"$base/out", "doc_id", "text", cfg)
    assert(spark.read.parquet(s"$base/out/curated").count() == before)
    assert(graft.table.SnapTable.read(spark, s"$base/out/_lines_seen").count() == linesBefore)
    assert(graft.table.SnapTable.snapshot(spark, s"$base/out/_lines_seen").get.id == snapBefore,
      "a replayed batch must not commit a new claim snapshot")
    val streamed2 = spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap
    assert(streamed2 == batch)
  }

  test("streaming curation with excision == batch: cross-batch span claims via sidecar") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("scurex").toString
    val boiler = "all rights reserved by this site owner please contact us soon"
    val bodies = Vector(
      "the first story tells about mountains rivers and ancient forests that we explored with care",
      "another page describes cooking recipes using fresh tomatoes garlic and olive oil for the meal",
      "a third entry covers railway engines their wheels boilers and the people who maintain them",
      "the fourth text discusses music theory chords scales and the way melodies resolve over time",
      "a fifth piece reviews garden tools spades rakes and the compost that feeds the spring beds",
      "the sixth note explains chess openings gambits and the long endgames that decide matches")
    // every doc: distinct body + the shared 11-token boilerplate tail.
    // batch 1 = ids 0-2, batch 2 = ids 3-5: the tail's first occurrence
    // is doc 0; docs 3-5 can only learn that through the sidecar
    def df(ids: Range) = ids.map(i => (i.toLong, bodies(i) + " " + boiler))
      .toDF("doc_id", "text")
    val cfg = graft.ops.Curation.CurateConfig(lineDedup = false,
      excise = true, exciseMinLen = 11, minWords = 10)
    // stage 4b rides along statelessly: doc 4's body shares an 8-gram
    // with the bench table and must drop in BOTH engines
    val bench = Some(Seq(("b1",
      "quiz asks about railway engines their wheels boilers and the people involved"))
      .toDF("bid", "text"))
    df(0 until 3).write.parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg, bench = bench).awaitTermination()
    df(3 until 6).write.mode("append").parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg, bench = bench).awaitTermination()
    val streamed = spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap
    val batch = graft.ops.Curation.curate(df(0 until 6), "doc_id", "text", cfg, bench)
      .as[(Long, String)].collect().toMap
    assert(streamed == batch,
      s"missing=${batch.keySet -- streamed.keySet} extra=${streamed.keySet -- batch.keySet} " +
        s"diff=${streamed.filter { case (k, v) => batch.get(k).exists(_ != v) }.keys}")
    // doc 0 keeps the tail; every later surviving doc loses it; the
    // contaminated doc 2 (railway 8-gram) is gone entirely
    assert(batch(0L).endsWith(boiler))
    assert(!batch.contains(2L), batch.keySet.toString)
    for (i <- Seq(1L, 3L, 4L, 5L))
      assert(!batch(i).contains("rights reserved"), s"doc $i")
    assert(batch.size == 5)
  }

  test("sidecar compaction: parity + replay idempotency preserved, folded partitions gone") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("scurcomp").toString
    val de = "der hund und die katze ist nicht ein freund aber das wetter ist gut und alle sind froh heute"
    def enDoc(i: Long) =
      s"the measurement number $i of this series has finished and the result " +
        "of all tests is good so we have recorded it with great care today"
    def text(i: Long): String = i match {
      case 4L => enDoc(3)      // in-batch dup (batch 0)
      case 21L => enDoc(5)     // cross-batch dup whose claim gets COMPACTED
      case 35L => enDoc(8)     // dup across a later compaction boundary
      case 7L | 27L => de
      case 9L => null
      case _ => enDoc(i)
    }
    def df(ids: Range) = ids.map(i => (i.toLong, {
      val t = text(i); if (t == null) null else "SHARED BOILERPLATE NAVIGATION LINE\n" + t
    })).toDF("doc_id", "text")
    val cfg = graft.ops.Curation.CurateConfig(
      keepLangs = Set("en"), minWords = 10, sampleFraction = 0.8)
    // four doc-ordered micro-batches with compaction after every one:
    // by the end each sidecar holds base (batch=-1) + the latest batch
    for (b <- 0 until 4) {
      df(b * 10 until (b + 1) * 10).write.mode("append").parquet(s"$base/docs")
      graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
        cfg = cfg, compactEvery = 1).awaitTermination()
    }
    val streamed = spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap
    val batch = graft.ops.Curation.curate(df(0 until 40), "doc_id", "text", cfg)
      .as[(Long, String)].collect().toMap
    assert(streamed == batch,
      s"missing=${batch.keySet -- streamed.keySet} extra=${streamed.keySet -- batch.keySet}")
    // the cross-compaction dedup decisions really happened through the
    // base: the later copies lose to claims that were folded into it
    // (the winners 5 and 8 may themselves be sampled out — stage 6 —
    // but their line claims precede sampling, so the losers always drop)
    assert(!batch.contains(21L) && !batch.contains(35L))
    // folded: each claim table holds only base chunks + the latest batch
    for (name <- Seq("_lines_seen", "_texts_seen")) {
      val tags = graft.table.SnapTable.snapshot(spark, s"$base/out/$name").get
        .files.map(_.tag.getOrElse("?")).toSet
      assert(tags.contains("base"), s"$name: $tags")
      assert(!tags.exists(t => t.startsWith("b:") &&
        t.stripPrefix("b:").toLong < 3), s"$name not folded: $tags")
      // the fold writes claim files only: no filter sidecars (nor the
      // legacy mutable bloom.bin)
      for (sidecar <- Seq("bloomruns", "bloomchunks"))
        assert(!new java.io.File(s"$base/out/$name/$sidecar").exists(), s"$name wrote $sidecar/")
      assert(!new java.io.File(s"$base/out/$name/bloom.bin").exists(), s"$name wrote bloom.bin")
    }
    // replaying the newest (possibly-uncommitted) batch AFTER compaction
    // stays idempotent: its own claims were never folded
    val before = spark.read.parquet(s"$base/out/curated").count()
    val linesBefore = graft.table.SnapTable.read(spark, s"$base/out/_lines_seen").count()
    graft.streaming.StreamingCuration.processBatch(
      df(30 until 40), 3L, s"$base/out", "doc_id", "text", cfg,
      compactEvery = 1)
    assert(spark.read.parquet(s"$base/out/curated").count() == before)
    assert(graft.table.SnapTable.read(spark, s"$base/out/_lines_seen").count() == linesBefore)
    assert(spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap == batch)
    // compaction is rerunnable and converges: claims stay exactly-once
    graft.streaming.StreamingCuration.compactSidecars(spark, s"$base/out", 2L)
    val lh = graft.table.SnapTable.read(spark, s"$base/out/_lines_seen").select("lh")
    assert(lh.count() == lh.distinct().count())
  }

  test("sidecar compaction with excision: _ngrams_seen folds and cross-fold span claims hold") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("scurexc").toString
    val boiler = "all rights reserved by this site owner please contact us soon"
    val bodies = Vector(
      "the first story tells about mountains rivers and ancient forests that we explored with care",
      "another page describes cooking recipes using fresh tomatoes garlic and olive oil for the meal",
      "a third entry covers railway engines their wheels boilers and the people who maintain them",
      "the fourth text discusses music theory chords scales and the way melodies resolve over time",
      "a fifth piece reviews garden tools spades rakes and the compost that feeds the spring beds",
      "the sixth note explains chess openings gambits and the long endgames that decide matches")
    def df(ids: Range) = ids.map(i => (i.toLong, bodies(i) + " " + boiler))
      .toDF("doc_id", "text")
    val cfg = graft.ops.Curation.CurateConfig(lineDedup = false,
      excise = true, exciseMinLen = 11, minWords = 10)
    // three micro-batches, folding after each: by batch 2 the boiler
    // tail's n-gram claims (owned by doc 0 in batch 0) live ONLY in the
    // compacted base — docs 4-5 must still learn them through it
    for (b <- 0 until 3) {
      df(b * 2 until (b + 1) * 2).write.mode("append").parquet(s"$base/docs")
      graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
        cfg = cfg, compactEvery = 1).awaitTermination()
    }
    val streamed = spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap
    val batch = graft.ops.Curation.curate(df(0 until 6), "doc_id", "text", cfg)
      .as[(Long, String)].collect().toMap
    assert(streamed == batch,
      s"missing=${batch.keySet -- streamed.keySet} extra=${streamed.keySet -- batch.keySet} " +
        s"diff=${streamed.filter { case (k, v) => batch.get(k).exists(_ != v) }.keys}")
    assert(batch(0L).endsWith(boiler))
    for (i <- 1L until 6L) assert(!batch(i).contains("rights reserved"), s"doc $i")
    // the n-gram claim table really folded
    val tags = graft.table.SnapTable.snapshot(spark, s"$base/out/_ngrams_seen").get
      .files.map(_.tag.getOrElse("?")).toSet
    assert(tags.contains("base") && !tags.contains("b:0"), tags.toString)
  }

  test("a zero-claim batch commits a pure watermark bump; the next batch survives it") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("scurempty").toString
    val de = "der hund und die katze ist nicht ein freund aber das wetter " +
      "ist gut und alle sind froh heute sagt man hier immer wieder gern"
    def en(i: Long) =
      s"the measurement number $i of this series has finished and the result " +
        "of all tests is good so we have recorded it with great care today"
    val cfg = graft.ops.Curation.CurateConfig(keepLangs = Set("en"), minWords = 10)
    // batch 0: all German -> ZERO survivors -> the _texts_seen claim
    // table commits a file-less snapshot (pure watermark bump); the
    // read path must treat it as empty
    Seq((0L, de), (1L, de + " und nochmal")).toDF("doc_id", "text")
      .write.parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg).awaitTermination()
    val curDir = new java.io.File(s"$base/out/curated")
    assert(!curDir.exists() ||
      !curDir.listFiles().exists(_.isDirectory), // no batch= partitions yet
      Option(curDir.listFiles()).map(_.mkString(",")).toString)
    // batch 1: English docs + a dup pair — the funnel must run and dedup
    Seq((2L, en(2)), (3L, en(2)), (4L, en(4))).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg).awaitTermination()
    val kept = spark.read.parquet(s"$base/out/curated")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), kept.toString)
  }

  test("out-of-order batches: first-seen-by-arrival, one survivor per class, replay idempotent") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("scurooo").toString
    def enDoc(i: Long) =
      s"the measurement number $i of this series has finished and the result " +
        "of all tests is good so we have recorded it with great care today"
    def text(i: Long): String = i match {
      case 4L => enDoc(3)   // in-batch dup, both in the LATER-arriving batch
      case 21L => enDoc(5)  // dup class split across batches
      case _ => enDoc(i)
    }
    def df(ids: Range) = ids.map(i =>
      (i.toLong, "SHARED BOILERPLATE NAVIGATION LINE\n" + text(i)))
      .toDF("doc_id", "text")
    val cfg = graft.ops.Curation.CurateConfig(minWords = 10)
    // ARRIVAL order inverts doc order: ids 20-39 land as batch 0,
    // ids 0-19 as batch 1
    df(20 until 40).write.parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg).awaitTermination()
    df(0 until 20).write.mode("append").parquet(s"$base/docs")
    graft.streaming.StreamingCuration.start(spark, s"$base/docs", s"$base/out",
      cfg = cfg).awaitTermination()
    val streamed = spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap
    // DIVERGES from the batch rule (DIVERGENCES.md): the batch operator's
    // global min-id owner would keep 5 and drop 21; under out-of-order
    // arrival the FIRST-ARRIVING copy owns the class
    assert(streamed.contains(21L) && !streamed.contains(5L), streamed.keySet.toString)
    // within one batch the batch rule still applies: 3 beats 4
    assert(streamed.contains(3L) && !streamed.contains(4L))
    // exactly one survivor per content class (no class lost, none doubled)
    assert(streamed.values.toSeq.distinct.size == streamed.size)
    assert(streamed.size == 38, streamed.size.toString) // 40 - one per dup class
    // the boilerplate line is owned by the first ARRIVING batch's min (id,idx)
    assert(streamed(20L).contains("BOILERPLATE"))
    assert(Seq(0L, 1L, 21L, 30L).forall(i => !streamed(i).contains("BOILERPLATE")))
    // replay of either batch is still idempotent
    graft.streaming.StreamingCuration.processBatch(
      df(0 until 20), 1L, s"$base/out", "doc_id", "text", cfg)
    val streamed2 = spark.read.parquet(s"$base/out/curated")
      .select("doc_id", "text_curated").as[(Long, String)].collect().toMap
    assert(streamed2 == streamed)
  }

  test("TTL'd streaming excision: an n-gram claim expires and re-admits") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sexcttl").toString
    val ttlMs = 20000L
    val boiler = "one two three four"
    val schema = Seq(("x", "y")).toDF("doc_id", "text").schema
    def runLeg(expectRows: Long): Unit = { // see the TTL'd-dedup leg note
      val stream = spark.readStream.schema(schema).parquet(s"$base/docs")
      val q = graft.streaming.StreamingExcision
        .excisedOccurrencesTtl(stream, ttlMs, "text", 4)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.ProcessingTime(100))
        .format("parquet").option("path", s"$base/out").start()
      StreamingSpec.awaitInputRows(q, expectRows)
      q.stop(); q.awaitTermination()
    }
    Seq(("a1", s"$boiler alpha beta")).toDF("doc_id", "text")
      .write.parquet(s"$base/docs")
    runLeg(1)
    // within TTL: a2's boilerplate 4-gram is excised
    Seq(("a2", s"$boiler gamma delta")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    Thread.sleep(ttlMs) // expire, then an unrelated batch fires the sweep
    Seq(("a3", "nothing shared here at all")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    // re-admitted: a4's occurrence claims anew, nothing excised
    Seq(("a4", s"$boiler epsilon zeta")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    val excisedDocs = spark.read.parquet(s"$base/out")
      .select("doc_id").as[String].collect().toSet
    assert(excisedDocs.contains("a2") && !excisedDocs.contains("a4"),
      excisedDocs.toString)
    assert(!excisedDocs.contains("a1") && !excisedDocs.contains("a3"))
  }

  test("TTL'd streaming line dedup: a boilerplate line re-admits after expiry") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("slinettl").toString
    val ttlMs = 20000L
    val schema = Seq(("x", "y")).toDF("doc_id", "text").schema
    def runLeg(expectRows: Long): Unit = { // see the TTL'd-dedup leg note
      val stream = spark.readStream.schema(schema).parquet(s"$base/docs")
      val q = graft.streaming.StreamingLineDedup.keptLinesTtl(stream, ttlMs)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.ProcessingTime(100))
        .format("parquet").option("path", s"$base/out").start()
      StreamingSpec.awaitInputRows(q, expectRows)
      q.stop()
      q.awaitTermination()
    }
    Seq(("a1", "BOILERPLATE LINE\nbody of a1")).toDF("doc_id", "text")
      .write.parquet(s"$base/docs")
    runLeg(1)
    // within TTL: a2's boilerplate is suppressed, its body kept
    Seq(("a2", "BOILERPLATE LINE\nbody of a2")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    Thread.sleep(ttlMs) // expire, then an unrelated batch fires the sweep
    Seq(("a3", "something else entirely")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    // re-admitted after expiry
    Seq(("a4", "BOILERPLATE LINE\nbody of a4")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    val owners = spark.read.parquet(s"$base/out")
      .filter(org.apache.spark.sql.functions.col("line") === "BOILERPLATE LINE")
      .select("doc_id").as[String].collect().sorted.toVector
    assert(owners == Vector("a1", "a4"), owners.toString)
  }

  test("TTL'd streaming near-dup: pairs form within the horizon, not across an expiry") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sneardupttl").toString
    val ttlMs = 20000L
    val schema = Seq(("x", "y")).toDF("doc_id", "text").schema
    def runLeg(expectRows: Long): Unit = { // see the TTL'd-dedup leg note
      val stream = spark.readStream.schema(schema).parquet(s"$base/docs")
      val q = graft.streaming.StreamingNearDup.candidatePairsTtl(stream, ttlMs)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.ProcessingTime(100))
        .format("parquet").option("path", s"$base/out").start()
      StreamingSpec.awaitInputRows(q, expectRows)
      q.stop()
      q.awaitTermination()
    }
    val t = graft.ingest.SynthCorpus.docText(7L)
    Seq(("a1", t)).toDF("doc_id", "text").write.parquet(s"$base/docs")
    runLeg(1)
    // within the horizon: the near-dup pairs with the live state
    Seq(("b2", t)).toDF("doc_id", "text").write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    // expire, sweep via an unrelated batch, then the same text re-arrives:
    // no pair across the expiry
    Thread.sleep(ttlMs)
    Seq(("u3", "totally unrelated content here")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    Seq(("c4", t)).toDF("doc_id", "text").write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    val pairs = spark.read.parquet(s"$base/out")
      .as[(String, String)].collect().toSet
    assert(pairs == Set(("a1", "b2")), pairs.toString)
  }

  test("TTL'd streaming dedup: state expires and the hash is re-admitted across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sdedupttl").toString
    val docSchema = org.apache.spark.sql.Encoders.product[graft.ingest.Doc].schema
    val ttlMs = 20000L
    // Timeout-carrying state keeps scheduling micro-batches (that is
    // how sweeps fire), so the query never quiesces: AvailableNow and
    // processAllAvailable() both hang. And a FIXED window is flaky
    // under host contention (a loaded box can spend the whole window
    // on query startup and miss the leg's batch). So: wait until the
    // leg's own input rows are reported COMMITTED (progress objects
    // are emitted per completed batch since this start), then stop —
    // the sweep a leg needs fires inside the batch that processed its
    // data, since group timeouts are evaluated per batch.
    def runLeg(expectRows: Long): Unit = {
      val docs = spark.readStream.schema(docSchema)
        .parquet(s"$base/docs").as[graft.ingest.Doc]
      val q = graft.streaming.StreamingDedup.dedupStreamTtl(docs, ttlMs)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(100))
        .format("parquet").option("path", s"$base/out")
        .start()
      StreamingSpec.awaitInputRows(q, expectRows)
      q.stop()
      q.awaitTermination()
    }
    def doc(id: String, text: String) = graft.ingest.SpanCodec.encode(id, text)
    // leg 1: admit hash(alpha beta); in-batch duplicate suppressed
    spark.createDataset(Seq(
      doc("t1", "alpha beta\n"), doc("t2", "alpha beta\n"))).write.parquet(s"$base/docs")
    runLeg(2)
    // leg 2 (restart, still within the 20 s TTL): duplicate suppressed
    spark.createDataset(Seq(doc("t3", "alpha beta\n")))
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    // let the admission expire, then leg 3's batches (UNRELATED data)
    // fire the timeout sweep that removes the expired hash
    Thread.sleep(ttlMs)
    spark.createDataset(Seq(doc("t4", "unrelated text\n")))
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    // leg 4: the same content is now RE-ADMITTED (expired + swept)
    spark.createDataset(Seq(doc("t5", "alpha beta\n")))
      .write.mode("append").parquet(s"$base/docs")
    runLeg(1)
    val kept = spark.read.parquet(s"$base/out").select("doc_id")
      .as[String].collect().sorted.toVector
    assert(kept == Vector("t1", "t4", "t5"), kept)
  }
}

object StreamingSpec {
  /** Block until `q` has committed batches totalling >= `rows` input
    * rows since ITS start (recentProgress resets per start), or fail
    * after a generous deadline. Progress is reported after a batch
    * fully commits, so the leg's sink output and state are durable
    * when this returns.
    */
  def awaitInputRows(q: org.apache.spark.sql.streaming.StreamingQuery,
                     rows: Long, timeoutMs: Long = 180000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var seen = 0L
    while (seen < rows && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      seen = q.recentProgress.map(_.numInputRows).sum
    }
    require(seen >= rows, s"stream processed $seen of $rows expected input rows within ${timeoutMs}ms")
  }
}
