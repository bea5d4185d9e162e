package graft

import graft.ingest.{Doc, Fixtures, SynthCorpus}
import graft.link.UnitDict
import graft.table.SnapTable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

/** spark-submit entry: run the KG pipeline end-to-end.
  *
  *   runMain graft.RunPipeline <fixtures|synth:N> <outDir> [--resume] [--compact]
  *
  * Writes three [[graft.table.SnapTable]]s — read them with
  * `SnapTable.read`: <outDir>/metadata (one JSON-LD row per doc),
  * <outDir>/triples ([[Pipeline.writeTriplesSnap]]'s one file per pred
  * bucket) and <outDir>/metrics (watermarked by run) — plus
  * <outDir>/ntriples (sorted text). Every table commit is atomic.
  * `--resume` appends only the docs each table has not committed yet
  * ([[Pipeline.resumeFilter]]) and commits nothing to a table with
  * nothing left; the sorted text is rewritten only when the triples
  * head differs from the one it was sorted from. `--compact` folds
  * buckets that appends split into several files
  * ([[Pipeline.compactTriplesSnap]]).
  */
object RunPipeline {

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-kg")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("fixtures")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_out"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val (docs, encodingOf): (Dataset[Doc], String => String) = what match {
      case s if s.startsWith("synth:") =>
        (SynthCorpus.corpus(spark, s.drop(6).toLong), (_: String) => "utf-8")
      case _ =>
        val ds = spark.createDataset(Fixtures.Names.map(Fixtures.doc))
        (ds, (id: String) => Fixtures.Encodings.getOrElse(id, "utf-8"))
    }
    materialize(docs, encodingOf, Pipeline.broadcastDict(spark), outDir, runId = what,
      resume = args.contains("--resume"), compact = args.contains("--compact"))
    spark.stop()
  }

  /** Run stages B-E over `docs0` and commit the metadata, triples and
    * metrics tables plus the sorted N-Triples text under `outDir`.
    */
  def materialize(docs0: Dataset[Doc], encodingOf: String => String,
                  dict: Broadcast[UnitDict], outDir: String, runId: String,
                  resume: Boolean, compact: Boolean): Unit = {
    val spark = docs0.sparkSession
    import spark.implicits._
    // each table resumes against its own commits: a crash between the
    // metadata and the triples commit re-runs only the triples
    def todo(table: String) =
      if (resume) Pipeline.resumeFilter(docs0, s"$outDir/$table") else docs0
    // a resume with nothing left for a table commits nothing to it, so
    // its head id stays put
    def commits(ds: Dataset[Doc]) = !resume || !ds.isEmpty
    val docs = todo("triples")

    val bad = Pipeline.spanInvariantViolations(docs)
    require(bad == 0, s"span invariant violated by $bad docs")
    val t0 = System.nanoTime()
    def lap(label: String, t: Long): Long = {
      val now = System.nanoTime()
      println(f"[pipeline] $label: ${(now - t) / 1e9}%.1f s")
      now
    }
    var tl = t0
    val metaDocs = todo("metadata")
    if (commits(metaDocs)) {
      val meta = Pipeline.metadata(metaDocs, dict, encodingOf).toDF()
      if (resume) SnapTable.append(spark, s"$outDir/metadata", meta)
      else SnapTable.overwrite(spark, s"$outDir/metadata", meta)
    }
    tl = lap("metadata", tl)
    if (commits(docs))
      Pipeline.writeTriplesSnap(Pipeline.triples(docs, dict, encodingOf),
        s"$outDir/triples", append = resume)
    tl = lap("triples-table", tl)
    if (compact) { // fold small append files
      Pipeline.compactTriplesSnap(spark, s"$outDir/triples")
      tl = lap("compact", tl)
    }
    val head = SnapTable.snapshot(spark, s"$outDir/triples").get
    val tsOut = Pipeline.readTriplesSnap(spark, s"$outDir/triples", asOf = Some(head.id))
      .select($"doc_id", $"subj", $"pred", $"obj").as[TripleRow]
    // metrics commit through the snapshot layer: atomic, watermarked by
    // run id, snapshot-readable (SnapTable.read(outDir + "/metrics"))
    Pipeline.writeMetricsSnap(
      Pipeline.metrics(tsOut, runId = runId, stage = "materialize"),
      s"$outDir/metrics", watermark = Some(runId))
    tl = lap("metrics", tl)
    // the marker goes in after the sort, so a crash between the triples
    // commit and the end of the sort leaves a stale or no marker and the
    // next resume sorts again
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/ntriples/$NTriplesMarker")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val source = ntriplesSource(head)
    val sorted = mfs.exists(marker) && {
      val in = mfs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString == source
      finally in.close()
    }
    if (!sorted) {
      Pipeline.writeSortedNTriples(tsOut, s"$outDir/ntriples")
      val out = mfs.create(marker, true)
      try out.write(source.getBytes("UTF-8")) finally out.close()
    }
    tl = lap("ntriples-sorted", tl)
    val secs = (System.nanoTime() - t0) / 1e9
    val nDocs = SnapTable.read(spark, s"$outDir/metadata").count()
    val nTriples = tsOut.count()
    println(f"[pipeline] docs=$nDocs triples=$nTriples in $secs%.1f s " +
      f"(${nDocs / secs}%.1f docs/s)")
  }

  /** The file in `<outDir>/ntriples` that names the triples snapshot the
    * sorted text came from (Spark readers skip `_`-prefixed files).
    */
  val NTriplesMarker = "_TRIPLES_SNAPSHOT"

  /** The marker's content for snapshot `s`: its id plus a digest of its
    * data file paths, since ids restart at 1 if the table dir is
    * recreated while uuid-named files never recur.
    */
  def ntriplesSource(s: SnapTable.Snapshot): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    s.files.map(_.path).sorted.foreach(p => md.update(s"$p\n".getBytes("UTF-8")))
    s"snapshot ${s.id} files ${md.digest().map(b => f"$b%02x").mkString}\n"
  }
}
