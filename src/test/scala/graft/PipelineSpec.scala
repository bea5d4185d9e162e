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

  test("stage B-E parity on synthetic docs: triples, triplesDetected, triplesFromMetadata == per-doc core") {
    import spark.implicits._
    import graft.annotate.{Annotator, JsonLd}
    import graft.ingest.{Doc, Span}
    // all 8 archetypes, the 1-in-1024 large doc, a doc whose spans arrive
    // shuffled, and a doc labelled with a non-utf-8 encoding
    val base = ((0L until 16L) :+ 1024L).map(SynthCorpus.doc)
    val shuffled = {
      val d = SynthCorpus.doc(22) // archetype 6: media spans interleaved
      Doc("doc-shuffled", new scala.util.Random(7).shuffle(d.spans))
    }
    val docs = base :+ shuffled
    val latin = SynthCorpus.docId(7)
    val encodingOf = (id: String) => if (id == latin) "latin-1" else "utf-8"
    assert(shuffled.spans.map(_.offset) != shuffled.spans.map(_.offset).sorted)
    assert(docs.exists(_.spans.exists(_.kind == "media")))
    def rows(ts: org.apache.spark.sql.Dataset[TripleRow]) =
      ts.collect().map(t => (t.doc_id, t.subj, t.pred, t.obj)).sorted.toVector
    val dict = Pipeline.broadcastDict(spark)
    val core = docs.flatMap { d =>
      val lines = SpanCodec.lines(d.spans)
      val meta = Annotator.annotate(d.doc_id, lines, encodingOf(d.doc_id), dict.value)
      graft.rdf.TripleExpand.expandDoc(meta, lines).map(t => (d.doc_id, t.subj, t.pred, t.obj))
    }.sorted.toVector
    val dist = rows(Pipeline.triples(spark.createDataset(docs), dict, encodingOf))
    assert(dist.size == core.size && dist == core)
    assert(dist.map(_._1).distinct.size == docs.size)
    val detected = rows(Pipeline.triplesDetected(
      spark.createDataset(docs.map(d => (d, encodingOf(d.doc_id)))), dict))
    assert(detected == dist)
    val fromMeta = rows(Pipeline.triplesFromMetadata(spark.createDataset(docs.map { d =>
      val lines = SpanCodec.lines(d.spans)
      (JsonLd.render(Annotator.annotate(d.doc_id, lines, encodingOf(d.doc_id), dict.value)).render,
        SpanCodec.reconstruct(d.spans))
    })))
    assert(fromMeta == dist)
  }

  /** Edge docs for the lines kernel, as parquet rows (a null offset has
    * no [[graft.ingest.Span]] form).
    */
  private val edgeDocs: Seq[(String, Seq[(String, String, String, Integer)])] = {
    def t(text: String, off: Integer) = ("text", text, null: String, off)
    def m(ref: String, off: Integer) = ("media", ref, ref, off)
    Seq(
      "empty" -> Seq(),
      "media-only" -> Seq(m("https://a.example/1", 0), m("https://a.example/2", 1)),
      "out-of-order" -> Seq(t("c\n", 3), m("https://a.example/x", 1), t("a\n", 0), t("b\n", 2)),
      "equal-offsets" -> Seq(t("b1\n", 1), t("a\n", 0), t("b2\n", 1), t("b3\n", 1)),
      "null-kind" -> Seq(t("a\n", 0), (null, "dropped\n", null, 1), t("c\n", 2)),
      "null-text" -> Seq(t("a\n", 0), t(null, 1), t("c\n", 2)),
      "extreme-offsets" -> Seq(t("max", Int.MaxValue), t("min", Int.MinValue), t("neg", -5)),
      "one-text-null-offset" -> Seq(t("only\n", null), m("https://a.example/y", 1)),
      "null-spans" -> null,
      "null-offset" -> Seq(t("a\n", 0), t("b\n", null)))
  }

  /** The former `docLines` SQL chain: the null semantics reference. */
  private val ChainLines =
    """transform(array_sort(
      |  filter(arrays_zip(spans.kind, spans.text, spans.offset),
      |         s -> s.kind = 'text'),
      |  (a, b) -> a.offset - b.offset), s -> s.text)""".stripMargin

  private def edgeFrame(names: Set[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", StringType),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("kind", StringType), StructField("text", StringType),
        StructField("media_ref", StringType), StructField("offset", IntegerType)))))))
    val rows = edgeDocs.filter(e => names(e._1)).map { case (id, spans) =>
      Row(id, if (spans == null) null else spans.map { case (k, t, r, o) => Row(k, t, r, o) })
    }
    val dir = java.nio.file.Files.createTempDirectory("edges").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (interpreted eval, codegen) of `e` over `df`. */
  private def bothModes[T](body: => T): (T, T) = (
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body),
    withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body))

  test("graft_text_lines kernel == SpanCodec.lines and the former lambda chain on edge docs") {
    import org.apache.spark.sql.functions.{col, expr}
    def lines(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select(col("doc_id"), c).collect()
        .map(r => r.getString(0) -> Option(r.getSeq[String](1)).map(_.toVector)).toMap
    val ok = edgeDocs.map(_._1).toSet - "null-offset"
    val df = edgeFrame(ok)
    val (interp, codegen) = bothModes(lines(df, graft.expr.TextLinesOf("spans")))
    assert(interp == codegen)
    assert(interp.size == ok.size)
    // the reference form, wherever a doc has a Span form
    edgeDocs.filter(e => ok(e._1) && e._2 != null && e._2.forall(_._4 != null)).foreach {
      case (id, spans) =>
        val ref = SpanCodec.lines(spans.map { case (k, t, r, o) => graft.ingest.Span(k, t, r, o) })
        assert(interp(id).contains(ref.toVector), id)
    }
    assert(interp("equal-offsets").contains(Vector("a\n", "b1\n", "b2\n", "b3\n")))
    assert(interp("null-text").contains(Vector("a\n", null, "c\n")))
    assert(interp("one-text-null-offset").contains(Vector("only\n")))
    assert(interp("null-spans").isEmpty)
    // the former chain agrees on null semantics; only its `a - b`
    // comparator overflows on extreme offsets (an ANSI arithmetic error)
    val chain = lines(edgeFrame(ok - "extreme-offsets"), expr(ChainLines))
    assert(chain == interp - "extreme-offsets")
    // a null offset among two or more text spans fails as the chain's
    // comparator does — never read as 0
    val bad = edgeFrame(Set("null-offset"))
    def failure(c: org.apache.spark.sql.Column): Throwable =
      intercept[Throwable](bad.select(c).collect())
    def comparatorNull(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("COMPARATOR_RETURNS_NULL"))
    assert(comparatorNull(failure(expr(ChainLines))))
    val (fi, fc) = bothModes(failure(graft.expr.TextLinesOf("spans")))
    assert(comparatorNull(fi) && comparatorNull(fc), s"$fi / $fc")
    // null spans: a null line array, so the doc is counted, not expanded
    val dict = Pipeline.broadcastDict(spark)
    val errors = spark.sparkContext.longAccumulator("null-spans")
    val nullSpans = edgeFrame(Set("null-spans", "out-of-order"))
      .as[graft.ingest.Doc](org.apache.spark.sql.Encoders.product[graft.ingest.Doc])
    Pipeline.triples(nullSpans, dict, failFast = false, errorCounter = Some(errors)).count()
    assert(errors.value == 1L)
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
