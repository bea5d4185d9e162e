package graft

import graft.annotate.{Annotator, CsvwReader, DocMeta, JsonLd}
import graft.expr.TextLinesOf
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
  *  - Resume: every table is a [[graft.table.SnapTable]], so a commit is
  *    atomic and [[resumeFilter]] is one left_anti join of docs against
  *    the committed doc_ids (broadcast when small; shuffle-hash otherwise
  *    via AQE).
  */
object Pipeline {

  def broadcastDict(spark: SparkSession,
                    ttlPath: String = ""): Broadcast[UnitDict] =
    spark.sparkContext.broadcast(
      if (ttlPath.isEmpty) UnitDict.default else UnitDict.fromTtl(ttlPath))

  /** Only the text lines reach the JVM objects: one codegen kernel
    * ([[graft.expr.TextLinesOf]]) over the direct field projections
    * `spans.kind/text/offset` yields each doc's text-span lines in
    * stable offset order. Field extraction (GetArrayStructFields) is
    * the pattern nested-schema pruning supports, so a file scan reads
    * only those three fields and media_ref payloads never leave
    * parquet. Narrow.
    */
  private def docLines(docs: Dataset[Doc]): Dataset[(String, Seq[String])] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), TextLinesOf("spans").as("lines"))
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

  /** Stage E for one document, under the failure policy every stage
    * B-E entry shares: `doc` yields the document's metadata (annotated,
    * or read from supplied JSON-LD) and its text lines. With
    * `failFast = false` a pathological document cannot kill a
    * 1000-executor job: a non-fatal error skips it and is counted in
    * `errorCounter`; fatal errors and interrupts still fail the task.
    */
  private def expandRows(includeProv: Boolean, failFast: Boolean,
                         errorCounter: Option[org.apache.spark.util.LongAccumulator])(
                          doc: => (DocMeta, IndexedSeq[String])): Vector[TripleRow] =
    try {
      val (meta, lines) = doc
      TripleExpand.expandDoc(meta, lines, includeProv)
        .map(t => TripleRow(meta.id, t.subj, t.pred, t.obj))
    } catch {
      case scala.util.control.NonFatal(_) if !failFast =>
        errorCounter.foreach(_.add(1))
        Vector.empty
    }

  /** Stage B-E: full triple expansion per doc. Narrow. */
  def triples(docs: Dataset[Doc], dict: Broadcast[UnitDict],
              encodingOf: String => String = _ => "utf-8",
              includeProv: Boolean = true,
              failFast: Boolean = true,
              errorCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[TripleRow] = {
    import docs.sparkSession.implicits._
    docLines(docs).flatMap { case (id, ls) =>
      expandRows(includeProv, failFast, errorCounter) {
        val lines = ls.toIndexedSeq
        (Annotator.annotate(id, lines, encodingOf(id), dict.value), lines)
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
    // the same pruned line path as docLines, over the pair's doc struct
    docs.select(col("_1.doc_id"), TextLinesOf("_1.spans"), col("_2"))
      .as[(String, Seq[String], String)]
      .flatMap { case (id, ls, enc) =>
        expandRows(includeProv, failFast, errorCounter) {
          val lines = ls.toIndexedSeq
          (Annotator.annotate(id, lines, enc, dict.value), lines)
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
      expandRows(includeProv, failFast, errorCounter) {
        val meta = CsvwReader.read(metaJson)
        (meta, SpanCodec.splitKeepNewlines(csvText))
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

  val PredBuckets = 32

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

  /** Materialize the triples table as a [[graft.table.SnapTable]] —
    * the one triples layout, written by the batch [[RunPipeline]] and
    * the streaming [[StreamingPipeline.startSnap]] alike. Rows carry a
    * `pred_bucket` column (xxhash64 of pred mod [[PredBuckets]]), and
    * [[routeByBucket]] writes one file per non-empty bucket, holding
    * exactly that bucket value (lo == hi in the manifest — a point, so
    * [[readTriplesSnap]]'s bucket pruning reads only the queried
    * bucket's file, ~1/PredBuckets of the table). Readers prune
    * manifest-side before Spark lists anything; appends and overwrites
    * are atomic manifest commits, so a crash at any point leaves only
    * orphan stage files (swept by expire), never a torn table, and
    * [[resumeFilter]] needs no reconcile pass. `watermark` records the
    * writer's progress in the same commit as its rows.
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
    * wins or loses the commit CAS and retries, and a crash mid-rewrite
    * leaves the old snapshot current ([[graft.table.SnapTable.rewrite]]).
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
    // a replay of the last committed run/batch commits nothing
    val head = graft.table.SnapTable.snapshot(spark, tableRoot)
    if (watermark.isDefined && head.flatMap(_.watermark) == watermark) head.get
    else graft.table.SnapTable.append(spark, tableRoot, m,
      watermark = watermark, exactStats = false)
  }

  /** Resume: the `docs` whose rows are not yet committed to the
    * [[graft.table.SnapTable]] at `tableRoot` (a left-anti join against
    * its committed doc_ids; no distinct, the anti-join tolerates
    * duplicate ids). A commit is atomic, so a crashed write left nothing
    * behind to reconcile: its docs are simply absent and run again. A
    * doc that produced no rows is never recorded and also runs again,
    * which again adds nothing. `docs` unchanged when nothing is
    * committed yet.
    */
  def resumeFilter(docs: Dataset[Doc], tableRoot: String): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    if (graft.table.SnapTable.snapshot(spark, tableRoot).forall(_.files.isEmpty)) docs
    else docs.join(
        graft.table.SnapTable.read(spark, tableRoot).select(col("doc_id").as("done_id")),
        docs("doc_id") === col("done_id"), "left_anti")
      .as[Doc]
  }
}

/** Structured Streaming mode: the per-doc pipeline is stateless across
  * documents (each is self-contained), so incremental processing is the
  * same narrow flatMap under a streaming source — no stateful operators
  * needed (SURVEY.md §2.9). Each micro-batch commits to the same
  * triples table layout as the batch [[Pipeline.writeTriplesSnap]], so
  * a stream, a batch backfill and `RunPipeline --resume` all work on
  * one table.
  */
object StreamingPipeline {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

  /** Streaming triples into a [[graft.table.SnapTable]]: one manifest
    * commit per micro-batch makes DATA and PROGRESS atomic — the
    * north star's "resumable from snapshot checkpoints" shape realized
    * on the engine's own snapshot-manifest layer. Each batch appends
    * through [[Pipeline.writeTriplesSnap]] (one file per pred bucket,
    * point bounds for bucket-pruned reads), and
    * [[Pipeline.compactTriplesSnap]] folds the accumulated per-batch
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
          // first batch of a fresh checkpoint: old AND new files fold
          // into it — doc-level anti-join against the committed table
          val todo =
            if (epoch > cEpoch) Pipeline.resumeFilter(batch, tableRoot) else batch
          // persist: the expansion feeds BOTH the data append and the
          // per-batch metrics commit — without the pin it would run
          // twice per batch
          val ts = Pipeline.triples(todo, dict).persist()
          try {
            Pipeline.writeTriplesSnap(ts, tableRoot, append = true,
              watermark = Some(s"$epoch:$id"))
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
              Pipeline.writeMetricsSnap(
                Pipeline.metrics(ts,
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
}
