package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.ingest.{Fixtures, SpanCodec, SynthCorpus}

/** Spark-level pipeline checks: span invariant through parquet, core==
  * distributed parity, determinism across partitionings.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("span sequence survives a parquet round-trip exactly") {
    import spark.implicits._
    val docs = Fixtures.Names.map(Fixtures.doc)
    val dir = java.nio.file.Files.createTempDirectory("spans").toString
    spark.createDataset(docs).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[graft.ingest.Doc].collect()
      .map(d => d.doc_id -> d).toMap
    docs.foreach { d =>
      val b = back(d.doc_id)
      assert(b.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
        d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)), d.doc_id)
      assert(SpanCodec.reconstruct(b.spans) == Fixtures.text(d.doc_id))
    }
  }

  test("distributed triples == per-doc core expansion (example5)") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val docs = spark.createDataset(Seq(Fixtures.doc("example5.csv")))
    val dist = Pipeline.triples(docs, dict, _ => "latin-1")
      .collect().map(t => (t.subj, t.pred, t.obj)).sorted.toVector
    val lines = SpanCodec.lines(Fixtures.doc("example5.csv").spans)
    val meta = graft.annotate.Annotator.annotate("example5.csv", lines,
      "latin-1", graft.link.UnitDict.default)
    val core = graft.rdf.TripleExpand.expandDoc(meta, lines)
      .map(t => (t.subj, t.pred, t.obj)).sorted
    assert(dist == core)
  }

  test("synthetic corpus output is identical across partitionings") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    def hash(parts: Int): (Long, Long) = {
      val t = Pipeline.triples(SynthCorpus.corpus(spark, 64, parts), dict)
      import org.apache.spark.sql.functions._
      val r = t.select(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj")).as("h"))
        .agg(expr("bit_xor(h)").as("s"), count(lit(1)).as("n")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val a = hash(2)
    val b = hash(7)
    assert(a == b && a._2 > 0)
  }

  test("resume filter drops already-materialized docs (triple-scan fallback)") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val dir = java.nio.file.Files.createTempDirectory("resume").toString + "/t"
    val docs = SynthCorpus.corpus(spark, 10)
    // nothing committed yet: every doc is still to do
    assert(Pipeline.resumeFilter(docs, dir).count() == 10)
    Pipeline.writeTriplesSnap(Pipeline.triples(docs.filter($"doc_id" < "doc-000000000005"), dict), dir)
    val remaining = Pipeline.resumeFilter(docs, dir).collect().map(_.doc_id).sorted
    assert(remaining.toVector == (5L until 10L).map(SynthCorpus.docId).toVector)
  }

  test("resume reconcile closes the write/commit crash window and self-heals") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val dir = java.nio.file.Files.createTempDirectory("resume3").toString + "/t"
    val docs = SynthCorpus.corpus(spark, 10)
    Pipeline.writeTriplesSnap(Pipeline.triples(docs.filter($"doc_id" < "doc-000000000003"), dict), dir)
    // docs 3-4 crashed mid-append: their rows sit in data/ as files no
    // manifest references, so resume must re-expand them
    PipelineSpec.crashedAppend(Pipeline.triples(
      docs.filter($"doc_id" >= "doc-000000000003" && $"doc_id" < "doc-000000000005"), dict), dir)
    val remaining = Pipeline.resumeFilter(docs, dir)
    assert(remaining.collect().map(_.doc_id).sorted.toVector ==
      (3L until 10L).map(SynthCorpus.docId).toVector)
    // finish the corpus; the table must hold each doc's triples exactly once
    Pipeline.writeTriplesSnap(Pipeline.triples(remaining, dict), dir, append = true)
    assert(Pipeline.resumeFilter(docs, dir).count() == 0)
    val table = Pipeline.readTriplesSnap(spark, dir).select("doc_id", "subj", "pred", "obj")
    assert(table.count() == Pipeline.triples(docs, dict).count())
    assert(table.distinct().count() == table.count())
    // expire sweeps the crashed append's orphans; the table is unchanged
    def dataFiles() = new java.io.File(dir, "data").listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    def liveFiles() = graft.table.SnapTable.snapshot(spark, dir).get.files.size
    assert(dataFiles() > liveFiles())
    graft.table.SnapTable.expire(spark, dir, keepLast = 1, orphanGraceMs = 0)
    assert(dataFiles() == liveFiles())
    assert(Pipeline.readTriplesSnap(spark, dir).count() == table.count())
  }

  test("RunPipeline --resume after a crash between the metadata and triples commits: one metadata row per doc") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val out = java.nio.file.Files.createTempDirectory("rpresume").toString
    val docs = SynthCorpus.corpus(spark, 10)
    val first = docs.filter($"doc_id" < SynthCorpus.docId(6))
    RunPipeline.materialize(first, _ => "utf-8", dict, out, "run1", resume = false, compact = false)
    // the crash shape: the next run committed docs 6-9's metadata, then
    // died before its triples commit
    graft.table.SnapTable.append(spark, s"$out/metadata",
      Pipeline.metadata(docs.filter($"doc_id" >= SynthCorpus.docId(6)), dict).toDF())
    RunPipeline.materialize(docs, _ => "utf-8", dict, out, "run2", resume = true, compact = true)
    val meta = graft.table.SnapTable.read(spark, s"$out/metadata")
    assert(meta.groupBy("doc_id").count().where($"count" =!= 1).isEmpty)
    assert(meta.select("doc_id").as[String].collect().sorted.toVector ==
      (0L until 10L).map(SynthCorpus.docId).toVector)
    def rows(ds: org.apache.spark.sql.Dataset[TripleRow]) =
      ds.collect().map(t => (t.doc_id, t.subj, t.pred, t.obj)).sorted.toVector
    assert(rows(Pipeline.readTriplesSnap(spark, s"$out/triples")
      .select("doc_id", "subj", "pred", "obj").as[TripleRow]) == rows(Pipeline.triples(docs, dict)))
    // a replayed run commits no second set of metrics rows: exactly one
    // metrics commit carries run2's watermark, and its triple counts sum
    // to the triples table once
    RunPipeline.materialize(docs, _ => "utf-8", dict, out, "run2", resume = true, compact = false)
    val mRoot = s"$out/metrics"
    val run2Commits = graft.table.SnapTable.snapshotIds(spark, mRoot)
      .count(v => graft.table.SnapTable.snapshot(spark, mRoot, Some(v)).get.watermark.contains("run2"))
    assert(run2Commits == 1, s"$run2Commits metrics commits watermarked run2")
    val run2Triples = graft.table.SnapTable.read(spark, mRoot).where($"run_id" === "run2")
      .agg(org.apache.spark.sql.functions.sum("triple_count")).head.getLong(0)
    assert(run2Triples == Pipeline.readTriplesSnap(spark, s"$out/triples").count())
  }

  test("RunPipeline --resume with nothing left is a no-op; a lost marker re-sorts") {
    val dict = Pipeline.broadcastDict(spark)
    val out = java.nio.file.Files.createTempDirectory("rpnoop").toString
    val docs = SynthCorpus.corpus(spark, 6)
    def run(): Unit =
      RunPipeline.materialize(docs, _ => "utf-8", dict, out, "run1", resume = true, compact = false)
    def heads() = Seq("metadata", "triples", "metrics")
      .map(t => graft.table.SnapTable.snapshot(spark, s"$out/$t").get.id)
    val ntDir = new java.io.File(out, "ntriples")
    val marker = new java.io.File(ntDir, RunPipeline.NTriplesMarker)
    // (name, mtime, bytes) of every sorted part: a re-sort writes new
    // uuid-named parts
    def ntFiles() = ntDir.listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).map(f => (f.getName, f.lastModified,
        java.nio.file.Files.readAllBytes(f.toPath).toVector)).toVector
    RunPipeline.materialize(docs, _ => "utf-8", dict, out, "run1", resume = false, compact = false)
    val head = graft.table.SnapTable.snapshot(spark, s"$out/triples").get
    assert(java.nio.file.Files.readString(marker.toPath) == RunPipeline.ntriplesSource(head))
    val (heads0, nt0) = (heads(), ntFiles())
    assert(nt0.nonEmpty)
    for (_ <- 0 until 2) { // two --resume runs with nothing left
      run()
      assert(heads() == heads0)
      assert(ntFiles() == nt0)
    }
    // the crash window: the triples commit landed, the sort never
    // finished, so no marker names it — the next resume sorts again
    assert(marker.delete())
    run()
    assert(heads() == heads0)
    val nt1 = ntFiles()
    assert(nt1.map(_._1) != nt0.map(_._1), "the sorted text was not rewritten")
    def lines(parts: Vector[(String, Long, Vector[Byte])]) = parts.flatMap { case (_, _, b) =>
      scala.io.Source.fromInputStream(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b.toArray)), "UTF-8").getLines().toVector
    }
    assert(lines(nt1) == lines(nt0) && lines(nt0).nonEmpty)
    assert(java.nio.file.Files.readString(marker.toPath) == RunPipeline.ntriplesSource(head))
  }

  test("Snap-backed triples: byte-identical N-Triples, bucket-pruned reads, snapshot compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit, pmod, xxhash64}
    val dict = Pipeline.broadcastDict(spark)
    val base = java.nio.file.Files.createTempDirectory("tsnap").toString
    val docs = SynthCorpus.corpus(spark, 12)
    val s1 = Pipeline.writeTriplesSnap(Pipeline.triples(docs, dict), s"$base/snap")
    val run1Count = Pipeline.readTriplesSnap(spark, s"$base/snap").count()
    // byte-identical canonical N-Triples from the pipeline's rows and
    // from the Snap-backed table
    def ntBytes(src: org.apache.spark.sql.Dataset[TripleRow], out: String): Array[Byte] = {
      Pipeline.writeSortedNTriples(src, out, compress = false)
      new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName)
        .flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"subj", $"pred", $"obj").as[TripleRow]
    val a = ntBytes(Pipeline.triples(docs, dict), s"$base/nt_direct")
    val b = ntBytes(rows(Pipeline.readTriplesSnap(spark, s"$base/snap")), s"$base/nt_snap")
    assert(a.nonEmpty && java.util.Arrays.equals(a, b))
    // predBucketOf matches the engine's column computation, and the
    // manifest-pruned read returns exactly the full-scan answer
    val pred = Pipeline.readTriplesSnap(spark, s"$base/snap")
      .select("pred").orderBy("pred").head.getString(0)
    val bkt = Pipeline.predBucketOf(pred)
    val colBkt = spark.range(1)
      .select(pmod(xxhash64(lit(pred)), lit(Pipeline.PredBuckets))).head.getLong(0)
    assert(bkt.toLong == colBkt, s"predBucketOf=$bkt column=$colBkt")
    val prunedCnt = Pipeline.readTriplesSnap(spark, s"$base/snap", Some(Set(bkt)))
      .filter($"pred" === pred).count()
    val fullCnt = Pipeline.readTriplesSnap(spark, s"$base/snap")
      .filter($"pred" === pred).count()
    assert(prunedCnt == fullCnt && fullCnt > 0)
    // the exact slot routing gives every file POINT bounds (lo == hi):
    // a one-bucket prune selects only that bucket's files, never a
    // straddler — the headline pruning claim, asserted strictly
    val snapFiles = graft.table.SnapTable.snapshot(spark, s"$base/snap").get.files
    assert(snapFiles.forall(e => e.lo.isDefined && e.lo == e.hi),
      snapFiles.map(e => (e.lo, e.hi)).mkString(", "))
    // exactly one file per non-empty bucket, so a fresh table has
    // nothing for compaction to fold
    val nonEmpty = Pipeline.readTriplesSnap(spark, s"$base/snap")
      .select("pred_bucket").distinct().count()
    assert(snapFiles.groupBy(_.lo).forall(_._2.size == 1) && snapFiles.size == nonEmpty,
      snapFiles.groupBy(_.lo).map { case (b, fs) => s"$b: ${fs.size}" }.mkString(", "))
    assert(Pipeline.compactTriplesSnap(spark, s"$base/snap").isEmpty)
    // appends accumulate small files; snapshot compaction folds them
    // with identical content and the pre-compaction snapshot intact
    for (k <- 0 until 2) {
      val slice = docs.filter($"doc_id" >= SynthCorpus.docId(6L * k) &&
        $"doc_id" < SynthCorpus.docId(6L * k + 6))
      Pipeline.writeTriplesSnap(Pipeline.triples(slice, dict), s"$base/snap",
        append = true)
    }
    def sig() = Pipeline.readTriplesSnap(spark, s"$base/snap")
      .select(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj"),
        col("pred_bucket")).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
    val before = sig()
    val filesBefore = graft.table.SnapTable.snapshot(spark, s"$base/snap").get.files.size
    assert(Pipeline.compactTriplesSnap(spark, s"$base/snap", minFilesPerBucket = 2).isDefined)
    assert(sig() == before)
    val afterFiles = graft.table.SnapTable.snapshot(spark, s"$base/snap").get.files
    val filesAfter = afterFiles.size
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    // compaction preserves the point bounds (one bucket per file)
    assert(afterFiles.forall(e => e.lo.isDefined && e.lo == e.hi))
    // time travel to the pre-append snapshot still reproduces run 1
    assert(Pipeline.readTriplesSnap(spark, s"$base/snap", asOf = Some(s1.id)).count() ==
      run1Count && run1Count > 0)
  }

  test("failFast = false skips and counts non-fatal doc errors; interrupts still fail the job") {
    val dict = Pipeline.broadcastDict(spark)
    val docs = SynthCorpus.corpus(spark, 8)
    val errors = spark.sparkContext.longAccumulator("triple-errors")
    val rows = Pipeline.triples(docs, dict, _ => throw new RuntimeException("bad label"),
      failFast = false, errorCounter = Some(errors)).count()
    assert(rows == 0L && errors.value == 8L, s"rows=$rows errors=${errors.value}")
    val e = intercept[org.apache.spark.SparkException] {
      Pipeline.triples(docs, dict, _ => throw new InterruptedException("task killed"),
        failFast = false).count()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[InterruptedException] ||
        String.valueOf(c.getMessage).contains("java.lang.InterruptedException")), e)
  }
}

object PipelineSpec {
  /** What a writer that crashed between staging its files and the
    * manifest commit leaves behind: the rows as uuid-named parquet
    * files in the table's `data/` dir, referenced by no snapshot.
    */
  def crashedAppend(ts: org.apache.spark.sql.Dataset[TripleRow], tableRoot: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val stage = s"$tableRoot/.stage-crashed-${java.util.UUID.randomUUID()}"
    ts.toDF().withColumn("pred_bucket", pmod(xxhash64(col("pred")), lit(Pipeline.PredBuckets)))
      .write.parquet(stage)
    val data = new java.io.File(tableRoot, "data")
    data.mkdirs()
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "")
    new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        assert(f.renameTo(new java.io.File(data, f"$stamp-$i%05d.parquet")))
      }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }
}
