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
    Pipeline.writeTriples(Pipeline.triples(docs.filter($"doc_id" < "doc-000000000005"), dict), dir)
    val remaining = Pipeline.resumeFilter(docs, spark, dir).collect().map(_.doc_id).sorted
    assert(remaining.toVector == (5L until 10L).map(SynthCorpus.docId).toVector)
  }

  test("resume fast path (reconcile=false) scans only the doc-commit sidecar") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val dir = java.nio.file.Files.createTempDirectory("resume2").toString + "/t"
    val docs = SynthCorpus.corpus(spark, 10)
    val first = docs.filter($"doc_id" < "doc-000000000005")
    Pipeline.writeTriples(Pipeline.triples(first, dict), dir)
    Pipeline.commitDocIds(first, dir)
    val remaining = Pipeline.resumeFilter(docs, spark, dir, reconcile = false)
    // sidecar path: the plan must scan <dir>_doc_commits, not the table
    val p = remaining.queryExecution.executedPlan.toString
    assert(p.contains("_doc_commits"), p.take(1500))
    assert(!p.linesIterator.exists(l => l.contains("FileScan") && l.contains("/t]")), p.take(1500))
    assert(remaining.collect().map(_.doc_id).sorted.toVector ==
      (5L until 10L).map(SynthCorpus.docId).toVector)
    // second increment: append commit, everything done
    val rest = Pipeline.resumeFilter(docs, spark, dir, reconcile = false)
    Pipeline.writeTriples(Pipeline.triples(rest, dict), dir,
      org.apache.spark.sql.SaveMode.Append)
    Pipeline.commitDocIds(rest, dir)
    assert(Pipeline.resumeFilter(docs, spark, dir, reconcile = false).count() == 0)
  }

  test("resume reconcile closes the write/commit crash window and self-heals") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val dir = java.nio.file.Files.createTempDirectory("resume3").toString + "/t"
    val docs = SynthCorpus.corpus(spark, 10)
    // triples written for docs 0-4 but the commit 'crashed' after 0-2:
    // docs 3-4 have committed triples and no sidecar row
    val first5 = docs.filter($"doc_id" < "doc-000000000005")
    Pipeline.writeTriples(Pipeline.triples(first5, dict), dir)
    Pipeline.commitDocIds(docs.filter($"doc_id" < "doc-000000000003"), dir)
    // default (reconciling) resume must NOT reprocess 3-4 — a re-append
    // would duplicate their triples
    val remaining = Pipeline.resumeFilter(docs, spark, dir)
    assert(remaining.collect().map(_.doc_id).sorted.toVector ==
      (5L until 10L).map(SynthCorpus.docId).toVector)
    // ...and it healed the sidecar: the fast path now agrees
    assert(Pipeline.resumeFilter(docs, spark, dir, reconcile = false)
      .collect().map(_.doc_id).sorted.toVector ==
      (5L until 10L).map(SynthCorpus.docId).toVector)
    // finish the corpus; the table must hold each doc's triples exactly once
    val rest = Pipeline.resumeFilter(docs, spark, dir)
    Pipeline.writeTriples(Pipeline.triples(rest, dict), dir,
      org.apache.spark.sql.SaveMode.Append)
    Pipeline.commitDocIds(rest, dir)
    val table = spark.read.parquet(dir)
    assert(table.count() == Pipeline.triples(docs, dict).count())
    assert(table.select("doc_id", "subj", "pred", "obj").distinct().count() == table.count())
  }

  test("triples-table compaction: identical rows, fewer files, crash-parked partition repaired") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64, expr, count, lit}
    val dict = Pipeline.broadcastDict(spark)
    val dir = java.nio.file.Files.createTempDirectory("tcompact").toString + "/t"
    val docs = SynthCorpus.corpus(spark, 16)
    for (k <- 0 until 4) { // 4 appends -> >= 4 files per touched partition
      val slice = docs.filter($"doc_id" >= SynthCorpus.docId(4L * k) &&
        $"doc_id" < SynthCorpus.docId(4L * k + 4))
      Pipeline.writeTriples(Pipeline.triples(slice, dict), dir,
        if (k == 0) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append)
    }
    def sig() = spark.read.parquet(dir)
      .select(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj"), col("pred_bucket")).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
    def nFiles() = {
      def walk(f: java.io.File): Int =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      walk(new java.io.File(dir))
    }
    def buckets() = spark.read.parquet(dir).groupBy("pred_bucket").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val b0 = buckets()
    val (before, filesBefore) = (sig(), nFiles())
    Pipeline.compactTriples(spark, dir, minFilesToCompact = 2)
    val b1 = buckets()
    val diff = (b0.keySet ++ b1.keySet).toSeq.sortBy(_.toInt)
      .filter(k => b0.getOrElse(k, 0L) != b1.getOrElse(k, 0L))
      .map(k => s"$k: ${b0.getOrElse(k, 0L)} -> ${b1.getOrElse(k, 0L)}")
    assert(sig() == before, s"dir=$dir diff=${diff.mkString("; ")}")
    assert(nFiles() < filesBefore, s"$filesBefore -> ${nFiles()}")
    // crash shape: a partition parked in .trash with no live dir is repaired
    val root = new java.io.File(dir)
    val part = root.listFiles().filter(f => f.isDirectory &&
      f.getName.startsWith("pred_bucket=")).head
    val trash = new java.io.File(root, "." + part.getName + ".trash")
    assert(part.renameTo(trash))
    Pipeline.compactTriples(spark, dir, minFilesToCompact = 2)
    assert(sig() == before)
  }

  test("Snap-backed triples: byte-identical N-Triples, bucket-pruned reads, snapshot compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit, pmod, xxhash64}
    val dict = Pipeline.broadcastDict(spark)
    val base = java.nio.file.Files.createTempDirectory("tsnap").toString
    val docs = SynthCorpus.corpus(spark, 12)
    Pipeline.writeTriples(Pipeline.triples(docs, dict), s"$base/legacy")
    val s1 = Pipeline.writeTriplesSnap(Pipeline.triples(docs, dict), s"$base/snap")
    // byte-identical canonical N-Triples from the legacy directory
    // layout and the Snap-backed table
    def ntBytes(src: org.apache.spark.sql.Dataset[TripleRow], out: String): Array[Byte] = {
      Pipeline.writeSortedNTriples(src, out, compress = false)
      new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName)
        .flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"subj", $"pred", $"obj").as[TripleRow]
    val a = ntBytes(rows(spark.read.parquet(s"$base/legacy")), s"$base/nt_legacy")
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
      spark.read.parquet(s"$base/legacy").count())
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

  test("sidecar compaction: fewer files, same resume answer, crash-shaped leftovers tolerated") {
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val docs = SynthCorpus.corpus(spark, 12)
    for (k <- 0 until 4) { // 4 separate commits -> >= 4 sidecar files
      val slice = docs.filter($"doc_id" >= SynthCorpus.docId(3L * k) &&
        $"doc_id" < SynthCorpus.docId(3L * k + 3))
      Pipeline.writeTriples(Pipeline.triples(slice, dict), dir,
        if (k == 0) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append)
      Pipeline.commitDocIds(slice, dir)
    }
    def dataFiles = new java.io.File(dir + "_doc_commits").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val nBefore = dataFiles.length
    assert(nBefore >= 4)
    Pipeline.compactCommits(spark, dir)
    assert(dataFiles.length < nBefore)
    assert(Pipeline.resumeFilter(docs, spark, dir, reconcile = false).count() == 0)
    // a half-done compaction (compact copy moved in, originals not yet
    // deleted = duplicate ids) must still resume correctly
    Pipeline.commitDocIds(docs.filter($"doc_id" < SynthCorpus.docId(6)), dir)
    assert(Pipeline.resumeFilter(docs, spark, dir, reconcile = false).count() == 0)
  }
}
