package graft

import graft.annotate.{Annotator, CsvwReader, JsonLd}
import graft.ingest.{Doc, SpanCodec}
import graft.link.UnitDict
import graft.rdf.{Term, TripleExpand}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One output triple row; doc_id retained for lineage / resume. */
final case class TripleRow(doc_id: String, subj: String, pred: String, obj: String)
final case class MetadataRow(doc_id: String, jsonld: String)

/** The distributed KG-construction pipeline (SURVEY.md §3.4).
  *
  * Scale design (the 10^12-doc / 100 TB shape):
  *  - The input row `(doc_id, spans)` holds a *whole* document, so stages
  *    B-E (segment -> classify -> infer -> link -> expand) are narrow
  *    per-row transforms: ZERO shuffles over the corpus. The obvious
  *    alternative (posexplode lines + window by doc_id) would shuffle the
  *    full corpus twice before doing any work.
  *  - Per-doc work is bounded by the reference's sampling caps (30-line
  *    classification, 20-value format consensus) + O(rows x cols) triple
  *    fan-out, so task memory is O(largest doc), not O(partition).
  *  - The QUDT dictionary (~3.3k keys) is a driver-built broadcast.
  *  - The only wide operations are at the very end and are both optional:
  *    the pred-bucket repartition for the triples table (one shuffle
  *    partition, so one file, per bucket — deterministic, no rand())
  *    and the global range-sort for the canonical N-Triples text sink.
  *  - Resume: left_anti join of docs against already-materialized doc_ids
  *    (broadcast when small; shuffle-hash otherwise via AQE).
  */
object Pipeline {

  def broadcastDict(spark: SparkSession,
                    ttlPath: String = ""): Broadcast[UnitDict] =
    spark.sparkContext.broadcast(
      if (ttlPath.isEmpty) UnitDict.default else UnitDict.fromTtl(ttlPath))

  /** Only the text lines reach the JVM objects: when docs come from a
    * file scan this prunes the nested schema to spans.kind/text/offset
    * (media_ref payloads never leave parquet). Narrow.
    */
  private def docLines(docs: Dataset[Doc]): Dataset[(String, Seq[String])] = {
    import docs.sparkSession.implicits._
    // direct field extraction (GetArrayStructFields) is the pattern the
    // nested-schema-pruning rule supports; HOF lambdas over the full
    // struct would force a whole-spans read
    docs.select(col("doc_id"), expr(
      """transform(array_sort(
        |  filter(arrays_zip(spans.kind, spans.text, spans.offset),
        |         s -> s.kind = 'text'),
        |  (a, b) -> a.offset - b.offset), s -> s.text)""".stripMargin).as("lines"))
      .as[(String, Seq[String])]
  }

  /** Stage B-D: metadata JSON-LD per doc. Narrow (mapPartitions via .map). */
  def metadata(docs: Dataset[Doc], dict: Broadcast[UnitDict],
               encodingOf: String => String = _ => "utf-8"): Dataset[MetadataRow] = {
    import docs.sparkSession.implicits._
    docLines(docs).map { case (id, ls) =>
      val meta = Annotator.annotate(id, ls.toIndexedSeq, encodingOf(id), dict.value)
      MetadataRow(id, JsonLd.render(meta).render)
    }
  }

  /** Stage B-E: full triple expansion per doc. Narrow. With
    * `failFast = false` a pathological document cannot kill a
    * 1000-executor job: it is skipped and counted in the accumulator.
    */
  def triples(docs: Dataset[Doc], dict: Broadcast[UnitDict],
              encodingOf: String => String = _ => "utf-8",
              includeProv: Boolean = true,
              failFast: Boolean = true,
              errorCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[TripleRow] = {
    import docs.sparkSession.implicits._
    docLines(docs).flatMap { case (id, ls) =>
      try {
        val lines = ls.toIndexedSeq
        val meta = Annotator.annotate(id, lines, encodingOf(id), dict.value)
        TripleExpand.expandDoc(meta, lines, includeProv)
          .map(t => TripleRow(id, t.subj, t.pred, t.obj))
      } catch {
        case scala.util.control.NonFatal(_) if !failFast =>
          errorCounter.foreach(_.add(1))
          Vector.empty
      }
    }
  }

  /** Stage B-E over docs whose encoding label travels with the row
    * (the raw-bytes + detection ingest, [[graft.ingest.Ingest
    * .fromCsvFilesDetected]]) — at scale the label cannot come from a
    * driver-side map. Narrow.
    */
  def triplesDetected(docs: Dataset[(Doc, String)],
                      dict: Broadcast[UnitDict],
                      includeProv: Boolean = true,
                      failFast: Boolean = true,
                      errorCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[TripleRow] = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (d, enc) =>
      try {
        val lines = SpanCodec.lines(d.spans)
        val meta = Annotator.annotate(d.doc_id, lines, enc, dict.value)
        TripleExpand.expandDoc(meta, lines, includeProv)
          .map(t => TripleRow(d.doc_id, t.subj, t.pred, t.obj))
      } catch {
        case scala.util.control.NonFatal(_) if !failFast =>
          errorCounter.foreach(_.add(1))
          Vector.empty
      }
    }
  }

  /** The reference's `/api/rdf` entry point, distributed: expand
    * externally-supplied CSVW metadata documents (JSON-LD text — the
    * engine's own, the reference's, or hand-edited) against their raw
    * CSV text. Stages B-D are skipped; the metadata is authoritative
    * (csvw_parser.py:166-247). Narrow — one flatMap, no shuffle.
    *
    * Input: (metadataJson, csvText) pairs.
    */
  def triplesFromMetadata(rows: Dataset[(String, String)],
                          includeProv: Boolean = true,
                          failFast: Boolean = true,
                          errorCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[TripleRow] = {
    import rows.sparkSession.implicits._
    rows.flatMap { case (metaJson, csvText) =>
      try {
        val meta = CsvwReader.read(metaJson)
        val lines = SpanCodec.lines(SpanCodec.encode(meta.id, csvText).spans)
        TripleExpand.expandDoc(meta, lines, includeProv)
          .map(t => TripleRow(meta.id, t.subj, t.pred, t.obj))
      } catch {
        case scala.util.control.NonFatal(_) if !failFast =>
          errorCounter.foreach(_.add(1))
          Vector.empty
      }
    }
  }

  /** Span-sequence invariant (BASELINE input_hint): kind/text/media_ref/
    * order must round-trip exactly. Narrow validation pass; returns the
    * number of violating docs (0 expected).
    */
  def spanInvariantViolations(docs: Dataset[Doc]): Long = {
    import docs.sparkSession.implicits._
    docs.filter { d =>
      val sorted = d.spans.sortBy(_.offset)
      val offsetsOk = sorted.map(_.offset) == sorted.indices
      val kindsOk = sorted.forall(s =>
        (s.kind == "text" && s.media_ref == null) ||
          (s.kind == "media" && s.media_ref != null))
      // re-encoding the reconstructed text must reproduce the sequence
      val re = SpanCodec.encode(d.doc_id, SpanCodec.reconstruct(sorted))
      val roundTrip = re.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
        sorted.map(s => (s.kind, s.text, s.media_ref, s.offset))
      !(offsetsOk && kindsOk && roundTrip)
    }.count()
  }

  /** Bucketed materialization of a triple/metadata table: downstream
    * analytics that repeatedly join on the bucket column (triples ↔
    * triples, triples ↔ metadata, entity-centric rollups) read
    * co-located buckets on both sides and skip the shuffle entirely —
    * at 100 TB the single biggest repeated-join saving. PlanSpec pins
    * the no-Exchange join plan.
    */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
                    bucketCol: String = "subj", buckets: Int = 64): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path)
      .mode(SaveMode.Overwrite)
      .saveAsTable(tableName)

  val PredBuckets = 32
  val DocSalt = 64

  /** Materialize the triples table: parquet partitioned by predicate
    * bucket, salted by doc hash against head-predicate skew (rdf:type,
    * oa:hasBody dominate). Deterministic (no rand) -> identical output
    * across retries and cluster sizes.
    */
  def writeTriples(ts: Dataset[TripleRow], outDir: String,
                   mode: SaveMode = SaveMode.Overwrite): Unit = {
    ts.withColumn("pred_bucket", pmod(xxhash64(col("pred")), lit(PredBuckets)))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(DocSalt)))
      .repartition(col("pred_bucket"), col("salt"))
      .drop("salt")
      .write.mode(mode)
      .partitionBy("pred_bucket")
      .parquet(outDir)
  }

  /** Tokens that make hash repartitioning EXACT: `tokens(p)` is a long
    * whose Murmur3 partition assignment under `repartition(nPart, _)`
    * is exactly `p` (found by driver-side search over small longs —
    * coupon-collector, a few hundred hashes). Routing a row through
    * `tokens(slot)` therefore places slot `slot` in its OWN shuffle
    * partition, something neither plain hash partitioning (slots
    * collide) nor range partitioning (sampled boundaries straddle
    * values) can guarantee.
    */
  private def routeTokens(nPart: Int): Array[Long] = {
    val tokens = Array.fill(nPart)(-1L)
    var k = 0L
    var found = 0
    while (found < nPart) {
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(k, org.apache.spark.sql.types.LongType, 42L).toInt
      val p = ((h % nPart) + nPart) % nPart
      if (tokens(p) < 0L) { tokens(p) = k; found += 1 }
      k += 1
    }
    tokens
  }

  /** Partition a triples frame so every `pred_bucket` value lands in
    * its own shuffle partition, so every output file holds EXACTLY ONE
    * bucket value (per-file manifest bounds are points, and
    * [[readTriplesSnap]]'s bucket pruning selects only that bucket's
    * file). Deterministic — no rand — so output is identical across
    * retries and cluster sizes.
    */
  private[graft] def routeByBucket(df: DataFrame): DataFrame = {
    val tokens = routeTokens(PredBuckets)
    df.withColumn("_route", element_at(array(tokens.toIndexedSeq.map(lit(_)): _*),
        (col("pred_bucket") + 1).cast("int")))
      .repartition(PredBuckets, col("_route"))
      .drop("_route")
  }

  /** [[writeTriples]]'s layout committed through [[graft.table
    * .SnapTable]] — the batch triples path on the SAME commit protocol
    * as the streaming [[StreamingPipeline.startSnap]], replacing the
    * directory-swap journal that [[compactTriples]] needs on the raw
    * layout. Same pred-bucket shape, but the bucket lands in per-file
    * manifest bounds instead of partition directories:
    * [[routeByBucket]] writes one file per non-empty bucket, holding
    * exactly that bucket value (lo == hi — a point, so
    * [[readTriplesSnap]]'s bucket pruning reads only the queried
    * bucket's file, ~1/PredBuckets of the table). Readers prune
    * manifest-side before Spark lists anything, appends/overwrites are
    * atomic manifest commits, and compaction is a snapshot-isolated
    * [[graft.table.SnapTable.rewrite]] — concurrent readers keep a
    * consistent view, crash at any point leaves only orphan stage
    * files (swept by expire), never a torn table.
    */
  def writeTriplesSnap(ts: Dataset[TripleRow], tableRoot: String,
                       append: Boolean = false,
                       watermark: Option[String] = None): graft.table.SnapTable.Snapshot = {
    val spark = ts.sparkSession
    val df = routeByBucket(
      ts.toDF().withColumn("pred_bucket", pmod(xxhash64(col("pred")), lit(PredBuckets))))
    // clusterFiles = -1: keep the exact one-bucket-per-partition
    // routing (point bounds) instead of letting the stage re-cluster
    // by range and undo it
    if (append)
      graft.table.SnapTable.append(spark, tableRoot, df, watermark,
        statsCol = Some("pred_bucket"), clusterFiles = -1)
    else
      graft.table.SnapTable.overwrite(spark, tableRoot, df, watermark,
        statsCol = Some("pred_bucket"), clusterFiles = -1)
  }

  /** Read a [[writeTriplesSnap]] table, optionally pruned to the files
    * whose pred_bucket range intersects `buckets` — e.g.
    * `Some(Set(predBucketOf(pred)))` for a single-predicate query.
    */
  def readTriplesSnap(spark: SparkSession, tableRoot: String,
                      buckets: Option[Set[Int]] = None,
                      asOf: Option[Long] = None): DataFrame =
    graft.table.SnapTable.read(spark, tableRoot, asOf,
      prune = buckets.map(bs => (lo: String, hi: String) =>
        bs.exists(b => lo.toInt <= b && b <= hi.toInt)))

  /** The pred_bucket a predicate's triples land in (for pruned reads). */
  def predBucketOf(pred: String): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(pred),
        org.apache.spark.sql.types.StringType, 42L)
    ((h % PredBuckets) + PredBuckets).toInt % PredBuckets
  }

  /** Snapshot-isolated compaction of a [[writeTriplesSnap]] table: fold
    * buckets that accumulated >= `minFilesPerBucket` small files (from
    * appends) back into the one-file-per-bucket shape. Readers of the
    * pre-compaction snapshot are untouched; a concurrent append simply
    * wins or loses the commit CAS and retries. This subsumes
    * [[compactTriples]]'s pending-manifest journal entirely on the
    * Snap-backed path.
    */
  def compactTriplesSnap(spark: SparkSession, tableRoot: String,
                         minFilesPerBucket: Int = 4): Option[graft.table.SnapTable.Snapshot] = {
    val snap = graft.table.SnapTable.snapshot(spark, tableRoot).getOrElse(return None)
    val victims = snap.files.groupBy(_.lo)
      .filter(_._2.size >= minFilesPerBucket)
      .flatMap(_._2.map(_.path)).toSet
    if (victims.isEmpty) return None
    graft.table.SnapTable.rewrite(spark, tableRoot,
      e => victims(e.path),
      routeByBucket, // one file per bucket, point bounds preserved
      statsCol = Some("pred_bucket"), clusterFiles = -1)
  }

  /** Canonical sorted N-Triples text sink (north rule O3): global
    * range-partitioned sort, formatted via mapPartitions, one text part
    * per range -> concatenation is the totally ordered file.
    */
  def writeSortedNTriples(ts: Dataset[TripleRow], outDir: String,
                          compress: Boolean = true): Unit = {
    import ts.sparkSession.implicits._
    // one shuffle: range partitioning co-locates equal triples, so the
    // set semantics fall out of adjacent-dedup after the sort (no
    // separate distinct() shuffle); gzip parts concatenate into one
    // valid, totally ordered gzip document
    val w = ts.select("subj", "pred", "obj")
      .repartitionByRange(col("subj"), col("pred"), col("obj"))
      .sortWithinPartitions("subj", "pred", "obj")
      .as[(String, String, String)]
      .mapPartitions { it =>
        var prev: (String, String, String) = null
        it.flatMap { t =>
          if (t == prev) Iterator.empty
          else { prev = t; Iterator(s"${t._1} ${t._2} ${t._3} .") }
        }
      }
      .write.mode(SaveMode.Overwrite)
    (if (compress) w.option("compression", "gzip") else w).text(outDir)
  }

  /** Per-partition lineage & extraction metrics (north rule): rows of
    * (run_id, stage, partition_id, doc_count, triple_count, min/max doc).
    */
  def metrics(ts: Dataset[TripleRow], runId: String, stage: String): DataFrame = {
    ts.groupBy(spark_partition_id().as("partition_id"))
      .agg(approx_count_distinct(col("doc_id")).as("doc_count"),
        count(lit(1)).as("triple_count"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .withColumn("run_id", lit(runId))
      .withColumn("stage", lit(stage))
  }

  /** The metrics table on the SAME commit protocol as the data it
    * describes: one atomic manifest commit per run/batch (watermarked,
    * so replays skip exactly like data appends), snapshot-isolated
    * readers, time travel over the metric history. Read it back with
    * [[graft.table.SnapTable.read]].
    */
  def writeMetricsSnap(m: DataFrame, tableRoot: String,
                       watermark: Option[String] = None): graft.table.SnapTable.Snapshot = {
    val spark = m.sparkSession
    val rp = new org.apache.hadoop.fs.Path(tableRoot)
    val f = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pre-snapshot metrics dir holds flat part-*.parquet at the top
    // level; committing a SnapTable beside them would make the old
    // runs' metrics silently invisible (manifests become the source of
    // truth) — refuse with the recipe instead
    if (!f.exists(new org.apache.hadoop.fs.Path(rp, "meta")) && f.exists(rp) &&
        f.listStatus(rp).exists(s => s.isFile &&
          s.getPath.getName.endsWith(".parquet") &&
          !s.getPath.getName.startsWith(".")))
      throw new IllegalStateException(
        s"$tableRoot holds a legacy flat parquet metrics dir — move its " +
          "part files aside (or point at a fresh dir); the snapshot-" +
          "committed metrics table would silently shadow them")
    graft.table.SnapTable.append(spark, tableRoot, m,
      watermark = watermark, exactStats = false)
  }

  /** Snapshot-commit sidecar dir under the triples table. */
  private def commitsDir(triplesDir: String) = triplesDir + "_doc_commits"

  /** Record completed doc_ids AFTER a successful triples write — the
    * snapshot-commit half of resume. One tiny parquet append per run
    * (one row per DOC, not per triple): at 10^12 docs the resume
    * anti-join reads this sidecar, never the 500x-larger triple table.
    *
    * Write-then-commit is NOT atomic across the two directories: a
    * crash between them (or an at-least-once foreachBatch replay)
    * leaves committed triples with no sidecar row, and a parquet
    * re-append would DUPLICATE those rows. [[resumeFilter]]'s default
    * reconcile pass closes exactly that window (and self-heals the
    * sidecar); periodic [[compactCommits]] keeps the sidecar a handful
    * of files instead of one-per-micro-batch.
    */
  def commitDocIds(docs: Dataset[Doc], triplesDir: String,
                   mode: SaveMode = SaveMode.Append): Unit = {
    import docs.sparkSession.implicits._
    docs.map(_.doc_id).toDF("doc_id")
      .write.mode(mode).parquet(commitsDir(triplesDir))
  }

  /** One-time sidecar reconcile: append to the sidecar any doc_ids
    * present in the triples table but missing from it — the
    * writeTriples -> commitDocIds crash window. [[resumeFilter]] with
    * `reconcile = true` performs the same heal inline; this standalone
    * form is for callers that afterwards want the CHEAP per-batch
    * sidecar-only filter ([[StreamingPipeline.startBucketed]] runs it
    * once at stream start instead of paying a table-wide doc_id scan
    * per micro-batch).
    */
  def healSidecar(spark: SparkSession, triplesDir: String): Unit = {
    val sidecar =
      try Some(spark.read.parquet(commitsDir(triplesDir)).select("doc_id"))
      catch { case _: Exception => None }
    val table =
      try Some(spark.read.parquet(triplesDir).select("doc_id"))
      catch { case _: Exception => None }
    (sidecar, table) match {
      case (Some(s), Some(t)) =>
        val missing = t.join(s.withColumnRenamed("doc_id", "done_id"),
          t("doc_id") === col("done_id"), "left_anti").distinct()
        if (!missing.isEmpty)
          missing.write.mode(SaveMode.Append).parquet(commitsDir(triplesDir))
      case (None, Some(t)) => // no sidecar at all: seed it from the table
        t.distinct().write.mode(SaveMode.Append).parquet(commitsDir(triplesDir))
      case _ => ()
    }
  }

  /** Checkpoint resume: drop docs whose triples are already
    * materialized.
    *
    * `reconcile = true` (default — crash-consistent): docs are dropped
    * if they appear in the commit sidecar OR already have triples in
    * the table, so a crash between [[writeTriples]] and
    * [[commitDocIds]] can never re-append a doc's triples. The
    * table-side doc_ids found missing from the sidecar are appended to
    * it (self-heal), so the reconcile scan re-reads only the
    * column-pruned doc_id column once per recovery, not the payload.
    *
    * `reconcile = false` (fast path): sidecar only — one tiny scan at
    * any corpus size. Safe when the previous run is known to have
    * completed its commit step (clean shutdown, or a catalog with
    * atomic multi-table commits such as Iceberg).
    */
  def resumeFilter(docs: Dataset[Doc], spark: SparkSession,
                   triplesDir: String, reconcile: Boolean = true): Dataset[Doc] = {
    import spark.implicits._
    val sidecar =
      try Some(spark.read.parquet(commitsDir(triplesDir)).select("doc_id"))
      catch { case _: Exception => None }
    // raw (duplicate-bearing) doc_id column: the left_anti probes below
    // tolerate duplicate done-ids, so the reconcile scan never pays a
    // corpus-wide distinct — only the (normally tiny) `missing` set is
    // deduplicated before being appended to the sidecar
    val table =
      if (reconcile || sidecar.isEmpty)
        try Some(spark.read.parquet(triplesDir).select("doc_id"))
        catch { case _: Exception => None }
      else None
    // self-heal the sidecar: ids whose triples are committed but were
    // never recorded (crash window / replayed micro-batch)
    (sidecar, table) match {
      case (Some(s), Some(t)) =>
        val missing = t.join(s.withColumnRenamed("doc_id", "done_id"),
          t("doc_id") === col("done_id"), "left_anti").distinct()
        if (!missing.isEmpty)
          missing.write.mode(SaveMode.Append).parquet(commitsDir(triplesDir))
      case _ => ()
    }
    // no distinct: the left_anti probe tolerates duplicate done-ids, and
    // a corpus-wide distinct would add a full shuffle to every resume
    val done = (sidecar, table) match {
      case (Some(s), Some(t)) => s.union(t)
      case (Some(s), None)    => s
      case (None, Some(t))    => t
      case (None, None)       => return docs
    }
    docs.join(done.withColumnRenamed("doc_id", "done_id"),
        docs("doc_id") === col("done_id"), "left_anti")
      .as[Doc]
  }

  /** Compact the triples table's data files: streaming/resumed appends
    * leave one small file per micro-batch in EVERY pred_bucket
    * partition; at 10^12 docs downstream scans pay the file-listing +
    * per-file-footer overhead forever. Rewrites each partition's
    * SNAPSHOTTED data files to ~`targetBytesPerFile` files (split count
    * derived from the listed file sizes — no extra counting pass),
    * sorted by (subj, pred, obj) for better column compression and
    * row-group pruning.
    *
    * Concurrent-writer safety: the compactor reads EXACTLY the files it
    * listed (`spark.read.parquet(files*)`, never the live directory),
    * moves the compacted replacements in under stamp-unique names, and
    * deletes ONLY the snapshotted originals — a file appended to the
    * partition by a concurrent streaming `foreachBatch` at ANY point is
    * never read, never rewritten, and never deleted (pinned by
    * StreamingSpec's mid-compaction-append case via `midCompactHook`).
    *
    * Crash safety: each partition's swap is journaled by a manifest
    * (written atomically via create-temp + rename) that names the
    * snapshotted originals and the expected compacted-file count. On
    * the next invocation the repair pass completes or rolls back any
    * interrupted swap: all compacted files present -> finish (delete
    * remaining originals); some missing -> roll back (delete the moved
    * compacted files; originals are untouched because deletion only
    * ever starts after the move-in completes). Duplicate rows are
    * therefore never left behind by a crash.
    *
    * Isolation caveat (document, not a bug): a concurrent READER that
    * lists the partition between move-in and delete-originals sees both
    * copies; run compaction off-peak or use a snapshot-isolated table
    * format (Iceberg RewriteFiles — this is its MERGE-free parquet
    * mirror). One compactor at a time (stamps keep two runs from
    * deleting each other's files, but both may rewrite the same
    * originals).
    */
  def compactTriples(spark: SparkSession, triplesDir: String,
                     targetBytesPerFile: Long = 128L * 1024 * 1024,
                     minFilesToCompact: Int = 4,
                     midCompactHook: String => Unit = _ => ()): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(triplesDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    def isData(name: String) = !name.startsWith("_") && !name.startsWith(".")
    // ---- repair pass: finish or roll back any interrupted swap -------
    for (s <- fs.listStatus(root)) {
      val name = s.getPath.getName
      if (name.startsWith(".compact_pending-") && name.endsWith(".txt")) {
        val lines = {
          val in = fs.open(s.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        }
        val partName = lines(0); val stamp = lines(1); val n = lines(2).toInt
        val originals = lines.drop(3)
        val live = new Path(root, partName)
        val moved =
          if (fs.exists(live))
            fs.listStatus(live).count(f => f.isFile &&
              f.getPath.getName.startsWith(s"compact-$stamp-"))
          else 0
        if (moved == n) // move-in completed: finish the interrupted delete
          originals.foreach(o => fs.delete(new Path(live, o), false))
        else if (fs.exists(live)) // crash mid-move: roll back our files
          fs.listStatus(live).filter(f => f.isFile &&
              f.getPath.getName.startsWith(s"compact-$stamp-"))
            .foreach(f => fs.delete(f.getPath, false))
        fs.delete(s.getPath, false)
      } else if (s.isDirectory && name.startsWith(".") && name.contains(".compact_tmp")) {
        fs.delete(s.getPath, true) // incomplete compacted copy (pre-manifest crash)
      } else if (s.isDirectory && name.startsWith(".pred_bucket=") && name.endsWith(".trash")) {
        // legacy (pre-manifest) swap leftovers from older versions
        val live = new Path(root, name.stripPrefix(".").stripSuffix(".trash"))
        if (!fs.exists(live)) fs.rename(s.getPath, live)
        else fs.delete(s.getPath, true)
      }
    }
    // ---- compaction pass ---------------------------------------------
    val parts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("pred_bucket="))
    for (part <- parts) {
      val live = part.getPath
      // the snapshot: exactly these files are read, replaced, deleted
      val files = fs.listStatus(live)
        .filter(f => f.isFile && isData(f.getPath.getName))
      if (files.length >= minFilesToCompact) {
        val df = spark.read.parquet(files.map(_.getPath.toString): _*)
        // split count from the (already listed) file bytes — no extra
        // counting pass over the partition
        val bytes = files.map(_.getLen).sum
        val nParts = math.max(1L, bytes / targetBytesPerFile).toInt
        val stamp = java.util.UUID.randomUUID().toString.take(8)
        val tmp = new Path(root, "." + live.getName + s".compact_tmp-$stamp")
        fs.delete(tmp, true)
        df.repartitionByRange(nParts, col("subj"), col("pred"), col("obj"))
          .sortWithinPartitions("subj", "pred", "obj")
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val compacted = fs.listStatus(tmp)
          .filter(f => f.isFile && isData(f.getPath.getName)).map(_.getPath)
        // journal the swap BEFORE touching the live dir (atomic rename)
        val manifest = new Path(root, s".compact_pending-$stamp.txt")
        val manifestTmp = new Path(root, s".compact_pending-$stamp.txt.tmp")
        val out = fs.create(manifestTmp, true)
        try out.write((Seq(live.getName, stamp, compacted.length.toString) ++
          files.map(_.getPath.getName)).mkString("\n").getBytes("UTF-8"))
        finally out.close()
        require(fs.rename(manifestTmp, manifest),
          s"compactTriples: cannot journal $manifest")
        midCompactHook(live.getName) // test injection point: concurrent append
        compacted.zipWithIndex.foreach { case (f, i) =>
          require(fs.rename(f, new Path(live, s"compact-$stamp-$i.parquet")),
            s"compactTriples: cannot move in $f")
        }
        // delete ONLY the snapshotted originals — concurrent appends survive
        files.foreach(f => fs.delete(f.getPath, false))
        fs.delete(manifest, false)
        fs.delete(tmp, true)
      }
    }
  }

  /** Compact the doc-commit sidecar: the streaming writer appends one
    * tiny parquet file per micro-batch ([[StreamingPipeline
    * .startBucketed]]), so at 10^12 docs the resume anti-join's
    * file-listing would dominate. Rewrites the sidecar as sorted,
    * range-partitioned files of ~`targetRowsPerFile` ids.
    *
    * Crash-safe without a rename-atomic filesystem: (1) snapshot the
    * current file list, (2) write the compacted copy to a temp dir,
    * (3) move the compacted files IN, (4) delete the snapshotted
    * originals. After any prefix of these steps the directory holds a
    * SUPERSET of the ids committed before the snapshot (duplicate ids
    * are harmless to the anti-join), and files appended concurrently
    * after the snapshot are never touched.
    */
  def compactCommits(spark: SparkSession, triplesDir: String,
                     targetRowsPerFile: Long = 32L * 1024 * 1024): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(commitsDir(triplesDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    def isData(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    val before = fs.listStatus(dir).filter(f => f.isFile && isData(f.getPath)).map(_.getPath)
    if (before.length <= 1) return
    val ids = spark.read.parquet(before.map(_.toString): _*)
      .select("doc_id").distinct()
    val parts = math.max(1L, ids.count() / targetRowsPerFile).toInt
    val tmp = new Path(commitsDir(triplesDir) + "_compact_tmp")
    fs.delete(tmp, true)
    ids.repartitionByRange(parts, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    fs.listStatus(tmp).filter(f => f.isFile && isData(f.getPath))
      .zipWithIndex.foreach { case (f, i) =>
        fs.rename(f.getPath, new Path(dir, s"compact-$stamp-$i.parquet"))
      }
    before.foreach(p => fs.delete(p, false))
    fs.delete(tmp, true)
  }
}

/** Structured Streaming mode: the per-doc pipeline is stateless across
  * documents (each is self-contained), so incremental processing is the
  * same narrow flatMap under a streaming source — no watermarks or
  * stateful operators needed (SURVEY.md §2.9). Checkpointing gives
  * exactly-once into the triples table.
  */
object StreamingPipeline {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

  /** Start a stream: parquet docs dir -> triples parquet sink. */
  def start(spark: SparkSession, docsDir: String, outDir: String,
            checkpointDir: String,
            dict: org.apache.spark.broadcast.Broadcast[graft.link.UnitDict]): StreamingQuery = {
    implicit val docEnc = Encoders.product[graft.ingest.Doc]
    implicit val tEnc = Encoders.product[TripleRow]
    val docSchema = Encoders.product[graft.ingest.Doc].schema
    val docs: Dataset[graft.ingest.Doc] = spark.readStream
      .schema(docSchema).parquet(docsDir).as[graft.ingest.Doc]
    val triples = docs.flatMap { d =>
      val lines = graft.ingest.SpanCodec.lines(d.spans)
      val meta = graft.annotate.Annotator.annotate(d.doc_id, lines, "utf-8", dict.value)
      graft.rdf.TripleExpand.expandDoc(meta, lines)
        .map(t => TripleRow(d.doc_id, t.subj, t.pred, t.obj))
    }
    triples.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** Streaming triples into a [[graft.table.SnapTable]]: one manifest
    * commit per micro-batch makes DATA and PROGRESS atomic — the
    * north star's "resumable from snapshot checkpoints" shape realized
    * on the engine's own snapshot-manifest layer. Per-file `pred`
    * bounds land in the manifest for predicate-pruned reads, and
    * [[graft.table.SnapTable.rewrite]] compacts the accumulated small
    * files with snapshot isolation.
    *
    * Exactly-once via an EPOCHED watermark `"epoch:batchId"`. Batch ids
    * are only meaningful relative to one checkpoint: losing the
    * checkpoint restarts numbering at 0 AND folds old+new files into
    * one batch, so a bare batch-id comparison would either re-append or
    * — worse — silently skip genuinely new documents that arrived after
    * the crash. The epoch (bumped whenever the stream starts WITHOUT an
    * existing checkpoint) disambiguates:
    *  - same epoch, `id <=` committed batch -> pure engine replay of a
    *    committed batch: skip whole. Restart cost = one manifest read.
    *  - new epoch, first batch -> the one case needing doc-level truth:
    *    anti-join the batch against the table's committed doc_ids (one
    *    table doc_id scan, only ever paid on checkpoint loss), then
    *    commit the survivors under the new epoch; subsequent batches of
    *    the epoch take the fast path again.
    */
  def startSnap(spark: SparkSession, docsDir: String, tableRoot: String,
                checkpointDir: String,
                dict: org.apache.spark.broadcast.Broadcast[graft.link.UnitDict]): StreamingQuery = {
    import graft.table.SnapTable
    implicit val docEnc = Encoders.product[graft.ingest.Doc]
    val docSchema = Encoders.product[graft.ingest.Doc].schema
    def parseWm(wm: Option[String]): (Long, Long) = wm match {
      case Some(s) => s.split(":", 2) match {
        case Array(e, b) => (e.toLong, b.toLong)
        case Array(b) => (0L, b.toLong) // pre-epoch watermark: epoch 0
      }
      case None => (0L, -1L)
    }
    // The epoch decision must be CRASH-SAFE: deriving it from "did the
    // offsets log exist at process start" loses data if a run crashes
    // after the engine creates the checkpoint but before the first
    // commit of the new epoch (the restart would classify the folded
    // mega-batch as a pure replay and skip it). So the chosen epoch is
    // PERSISTED in a marker file inside the checkpoint dir — it shares
    // the checkpoint's lifecycle exactly: deleting the checkpoint
    // deletes the marker and forces a fresh epoch.
    val hConf = spark.sparkContext.hadoopConfiguration
    val ckptDir = new org.apache.hadoop.fs.Path(checkpointDir)
    val ckptFs = ckptDir.getFileSystem(hConf)
    val marker = new org.apache.hadoop.fs.Path(ckptDir, "graft-epoch")
    val markerExists = ckptFs.exists(marker)
    // IO errors while READING an existing marker must propagate (fail
    // the start loudly) — guessing the epoch on a transient failure is
    // exactly the stale-epoch data loss the marker prevents. Only TORN
    // CONTENT (non-numeric) maps to None.
    val markerEpoch: Option[Long] =
      if (!markerExists) None
      else {
        val in = ckptFs.open(marker)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        txt.toLongOption
      }
    val (priorEpoch, _) = parseWm(SnapTable.lastWatermark(spark, tableRoot))
    val ckptOffsets = new org.apache.hadoop.fs.Path(ckptDir, "offsets")
    val epoch = markerEpoch.getOrElse {
      // torn marker content -> the safe direction is a FRESH epoch (at
      // worst one unnecessary anti-join batch). No marker at all: a
      // checkpoint WITH offsets predates the marker scheme (numbering
      // continues the prior epoch); otherwise fresh.
      if (!markerExists && ckptFs.exists(ckptOffsets)) priorEpoch
      else priorEpoch + 1
    }
    if (!markerEpoch.contains(epoch)) {
      ckptFs.mkdirs(ckptDir)
      val tmp = new org.apache.hadoop.fs.Path(ckptDir,
        s".graft-epoch.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = ckptFs.create(tmp, true)
      try out.write(epoch.toString.getBytes("UTF-8")) finally out.close()
      ckptFs.delete(marker, false)
      require(ckptFs.rename(tmp, marker), s"cannot persist epoch marker $marker")
    }
    val docs: Dataset[graft.ingest.Doc] = spark.readStream
      .schema(docSchema).parquet(docsDir).as[graft.ingest.Doc]
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[graft.ingest.Doc], id: Long) =>
        val (cEpoch, cBatch) = parseWm(SnapTable.lastWatermark(spark, tableRoot))
        // an epoch BEHIND the table means this checkpoint belongs to the
        // table's past (restored backup / wrong dir): appending raw
        // would duplicate the whole table — refuse loudly instead
        require(epoch >= cEpoch,
          s"checkpoint epoch $epoch is behind table epoch $cEpoch for $tableRoot — " +
            "this checkpoint does not belong to this table; use a fresh checkpointDir")
        if (epoch == cEpoch && id <= cBatch) {
          () // pure replay of a committed batch within this epoch
        } else {
          val todo: Dataset[graft.ingest.Doc] =
            if (epoch > cEpoch &&
                SnapTable.snapshot(spark, tableRoot).exists(_.files.nonEmpty)) {
              // first batch of a fresh checkpoint: old AND new files fold
              // into it — doc-level anti-join against the committed table
              import org.apache.spark.sql.functions.col
              val seen = SnapTable.read(spark, tableRoot)
                .select(col("doc_id")).distinct()
              batch.join(seen, batch("doc_id") === seen("doc_id"), "left_anti")
                .as[graft.ingest.Doc]
            } else batch
          // persist: the expansion feeds BOTH the data append and the
          // per-batch metrics commit — without the pin it would run
          // twice per batch
          val ts = Pipeline.triples(todo, dict).toDF().persist()
          try {
            SnapTable.append(spark, tableRoot, ts,
              watermark = Some(s"$epoch:$id"), statsCol = Some("pred"))
            // per-partition lineage metrics into <tableRoot>_metrics on
            // the SAME watermark protocol: replays skip on the metrics
            // table's own watermark exactly like data appends. A crash
            // between the two commits leaves that one batch's metrics
            // row absent — detectable (metrics watermark behind the
            // table's), never wrong: the data replay branch cannot
            // recompute a fresh-epoch fold batch's post-anti-join
            // metrics, so it does not guess.
            val mRoot = tableRoot + "_metrics"
            val (mE, mB) = parseWm(SnapTable.lastWatermark(spark, mRoot))
            if (mE < epoch || (mE == epoch && mB < id)) {
              implicit val tEnc = Encoders.product[TripleRow]
              Pipeline.writeMetricsSnap(
                Pipeline.metrics(ts.as[TripleRow],
                  runId = s"$epoch:$id", stage = "stream-append"),
                mRoot, watermark = Some(s"$epoch:$id"))
              ()
            }
          } finally ts.unpersist()
        }
        ()
      }
      .start()
  }

  /** Streaming into the SAME salted, pred-bucketed triples table layout
    * as the batch [[Pipeline.writeTriples]], via foreachBatch, with the
    * doc-commit sidecar appended per micro-batch — so a streaming
    * ingest, a batch backfill, and `--resume` all interoperate on one
    * table.
    *
    * Exactly-once in effect under at-least-once foreachBatch delivery
    * (`resume = true`, default): every batch is anti-joined against the
    * doc-commit sidecar before writing, so a batch replayed after a
    * crash (checkpoint behind the data writes) re-appends nothing.
    * The one window the sidecar filter alone cannot see — a crash
    * BETWEEN writeTriples and commitDocIds — is closed by a single
    * [[Pipeline.healSidecar]] pass at stream start (table doc_ids
    * missing from the sidecar are appended to it before any batch
    * runs); a failed foreachBatch terminates the query, so in-run
    * replays always pass through a restart and hit that heal. Cost:
    * one table-wide doc_id scan per START (not per batch) + one
    * sidecar-sized anti-join per batch (keep it small with
    * [[Pipeline.compactCommits]]). `resume = false` restores the raw
    * append path for single-run bounded backfills where replays are
    * acceptable or impossible.
    */
  def startBucketed(spark: SparkSession, docsDir: String, outDir: String,
                    checkpointDir: String,
                    dict: org.apache.spark.broadcast.Broadcast[graft.link.UnitDict],
                    resume: Boolean = true): StreamingQuery = {
    implicit val docEnc = Encoders.product[graft.ingest.Doc]
    val docSchema = Encoders.product[graft.ingest.Doc].schema
    if (resume) Pipeline.healSidecar(spark, outDir)
    val docs: Dataset[graft.ingest.Doc] = spark.readStream
      .schema(docSchema).parquet(docsDir).as[graft.ingest.Doc]
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[graft.ingest.Doc], _: Long) =>
        val todo =
          if (resume) Pipeline.resumeFilter(batch, spark, outDir, reconcile = false)
          else batch
        val ts = Pipeline.triples(todo, dict)
        Pipeline.writeTriples(ts, outDir, org.apache.spark.sql.SaveMode.Append)
        Pipeline.commitDocIds(todo, outDir)
      }
      .start()
  }
}
