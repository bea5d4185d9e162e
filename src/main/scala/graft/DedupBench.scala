package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end near-duplicate dedup benchmark on the scale path:
  * narrow one-pass MinHash (graft_minhash) -> capped LSH candidate
  * pairs -> connected components -> survivor selection. Deterministic
  * synthetic corpus with an injected 1-in-`dupGroup` duplication rate,
  * so correctness is checkable (survivors == distinct texts) while
  * throughput is measured.
  *
  *   runMain graft.DedupBench [nDocs] [lowCpus] [highCpus] [dupGroup]
  */
object DedupBench {

  def corpus(spark: SparkSession, n: Long, dupGroup: Int): DataFrame = {
    import spark.implicits._
    // docs i in the same group of `dupGroup` share one text
    spark.range(n).map { i =>
      (f"doc-$i%012d", graft.ingest.SynthCorpus.docText(i - i % dupGroup))
    }.toDF("doc_id", "text")
  }

  def run(cpus: Int, nDocs: Long, dupGroup: Int): (Double, Long) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-dedup-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val docs = corpus(spark, nDocs, dupGroup)
      val t0 = System.nanoTime()
      val pairs = graft.ops.Dedup.lshCandidatePairsFast(docs, "doc_id", "text")
      val survivors = graft.ops.Dedup.dedupByComponents(docs, "doc_id", pairs)
      val kept = survivors.count()
      ((System.nanoTime() - t0) / 1e9, kept)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Adversarial clustering shape: one pair per consecutive id — a
    * single chain-shaped component of diameter nDocs. Plain label
    * propagation needs nDocs rounds (hits maxIter and returns a SPLIT
    * component); pointer doubling needs ~log2(nDocs). Runs both
    * variants on the same pair set and reports rounds-bounded wall
    * times + whether each converged.
    */
  def runChain(cpus: Int, nDocs: Long, maxIterPlain: Int,
               maxIterPD: Int): (Double, Boolean, Double, Boolean, Boolean) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-dedup-chain-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val pairs = spark.range(nDocs - 1)
        .select(format_string("doc-%012d", col("id")).as("id1"),
          format_string("doc-%012d", col("id") + 1).as("id2"))
        .persist()
      pairs.count()
      val t0 = System.nanoTime()
      val (plain, convPlain) = graft.ops.Dedup.connectedComponentsFlagged(pairs, maxIterPlain)
      val nPlain = plain.select("component").distinct().count()
      val tPlain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (pd, convPD) = graft.ops.Dedup.connectedComponentsPDFlagged(pairs, maxIterPD)
      val nPD = pd.select("component").distinct().count()
      val tPD = (System.nanoTime() - t1) / 1e9
      (tPlain, convPlain, tPD, convPD, nPD == 1L && nPlain >= nPD)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Line-dedup + n-gram-mining throughput: a synthetic multi-line
    * corpus where every doc carries `boiler` shared boilerplate lines
    * (the CCNet worst case — corpus-sized duplicate line groups) plus
    * unique body lines; measures [[graft.ops.Dedup.dedupLinesGlobal]]
    * and [[graft.ops.TextAnalysis.dupNgrams]] wall time and checks the
    * expected drop count exactly.
    */
  def runLines(cpus: Int, nDocs: Long, boiler: Int): (Double, Double, Boolean) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-lines-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val docs = spark.range(nDocs).map { i =>
        val b = (0 until boiler).map(j => s"shared boilerplate navigation line $j").mkString("\n")
        (f"doc-$i%012d", b + "\n" + graft.ingest.SynthCorpus.docText(i).replace(". ", "\n"))
      }.toDF("doc_id", "text").localCheckpoint()
      val t0 = System.nanoTime()
      val dropped = graft.ops.Dedup.dedupLinesGlobal(docs, "doc_id", "text")
        .agg(sum("n_dropped")).head().getLong(0)
      val tLines = (System.nanoTime() - t0) / 1e9
      // every boiler line is kept once corpus-wide
      val okDrops = dropped >= (nDocs - 1) * boiler
      val t1 = System.nanoTime()
      graft.ops.TextAnalysis.dupNgrams(docs, "doc_id", "text",
        n = 8, minDocs = 2, hashed = true).count()
      val tNg = (System.nanoTime() - t1) / 1e9
      (tLines, tNg, okDrops)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Full curation-pass throughput: normalize -> line dedup -> lang-ID
    * -> Gopher -> exact dedup -> sample over a corpus with injected
    * whole-doc duplicates and shared boilerplate (1 in `dupGroup` docs
    * share a text; every doc carries one boilerplate line). One lazy
    * plan, one job.
    */
  def runCurate(cpus: Int, nDocs: Long, dupGroup: Int,
                full: Boolean = false): (Double, Long) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-curate-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      // prose-shaped corpus (SynthCorpus's instrument tables carry no
      // English stopwords, so Gopher would — correctly — reject them):
      // 1-in-dupGroup docs share their 3 body lines; every doc shares
      // the boilerplate header. Expected survivors ~ nDocs/dupGroup.
      val docs = spark.range(nDocs).map { i =>
        val k = i - i % dupGroup
        // k*37+j UNBOUNDED: a modulus here makes the filler value cycle,
        // and at 400k docs the 22 tokens between the K_j markers then
        // genuinely repeat across k ~ k+9000 — which variable-length
        // excision correctly strips, gutting the corpus (observed: the
        // r5 --curate-full debug). Unique values keep every repeat run
        // under any excision threshold by construction.
        val body = (0 until 3).map(j =>
          s"the measurement run number ${k}_$j was completed and the result " +
            s"of the test is ${k * 37 + j} units that we have " +
            "recorded with great care").mkString("\n")
        (f"doc-$i%012d", "shared boilerplate navigation header\n" + body)
      }.toDF("doc_id", "text").localCheckpoint()
      // --curate-full adds stage 2b (variable-length excision over the
      // whole corpus — the one corpus-sized n-gram shuffle) and stage
      // 4b (decontamination vs a small synthetic bench set)
      val cfg = graft.ops.Curation.CurateConfig(minWords = 5,
        excise = full, exciseMinLen = 20)
      val bench = if (!full) None else Some(spark.range(100).map(i =>
        s"benchmark question number $i asks about the measurement run " +
          s"number ${i * 977}_1 was completed and the result").toDF("text"))
      val t0 = System.nanoTime()
      val kept = graft.ops.Curation.curate(docs, "doc_id", "text", cfg, bench).count()
      ((System.nanoTime() - t0) / 1e9, kept)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Streaming-funnel throughput: the same curate corpus written as
    * `batches` parquet chunks, consumed by [[graft.streaming
    * .StreamingCuration]] with maxFilesPerTrigger pacing — measures the
    * sustained micro-batch rate INCLUDING the sidecar reads/writes, and
    * checks the survivor count equals the batch funnel's.
    *
    *   runMain graft.DedupBench --curate-stream [nDocs] [cpus] [dupGroup] [batches] [compactEvery]
    */
  private final case class BatchStat(id: Long, sec: Double, seenBytes: Long,
                                     picked: Long, fallbacks: Long,
                                     foldSidecarBytes: Long, fppPpm: Long)

  def runCurateStream(cpus: Int, nDocs: Long, dupGroup: Int,
                      batches: Int, compactEvery: Int = 0): (Double, Long, Long) = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-curate-stream-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("curstream").toString
      val docs = spark.range(nDocs).map { i =>
        val k = i - i % dupGroup
        val body = (0 until 3).map(j =>
          s"the measurement run number ${k}_$j was completed and the result " +
            s"of the test is ${k * 37 + j} units that we have " +
            "recorded with great care").mkString("\n")
        (f"doc-$i%012d", "shared boilerplate navigation header\n" + body)
      }.toDF("doc_id", "text").localCheckpoint()
      // doc-ordered chunks, one file each -> maxFilesPerTrigger=1 makes
      // each chunk one micro-batch
      val span = (nDocs + batches - 1) / batches
      for (b <- 0 until batches)
        docs.filter(col("doc_id") >= f"doc-${b * span}%012d" &&
            col("doc_id") < f"doc-${(b + 1) * span}%012d")
          .coalesce(1).write.mode("append").parquet(s"$base/docs")
      val cfg = graft.ops.Curation.CurateConfig(minWords = 5)
      val t0 = System.nanoTime()
      val schema = docs.schema
      // per-batch wall times: the honest flatness evidence is the
      // TRAJECTORY at constant batch size — late batches carry the full
      // claim history, so late/early per-batch time isolates the
      // history-growth term from the fixed micro-batch floor
      val perBatch =
        new java.util.concurrent.ConcurrentLinkedQueue[BatchStat]()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/docs")
        .writeStream
        .option("checkpointLocation", s"$base/out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val s0 = System.nanoTime()
          val m = graft.streaming.ClaimStore.Metrics
          m.reset()
          graft.streaming.StreamingCuration.processBatch(
            b, id, s"$base/out", "doc_id", "text", cfg,
            compactEvery = compactEvery)
          perBatch.add(BatchStat(id, (System.nanoTime() - s0) / 1e9,
            m.plannedSeenBytes.get, m.baseFilesSelected.get,
            m.fullFallbacks.get, m.foldSidecarBytes.get, m.probeFppPpm.get))
          ()
        }
        .start()
      q.awaitTermination()
      val t = (System.nanoTime() - t0) / 1e9
      val kept = spark.read.parquet(s"$base/out/curated").count()
      val keptBatch = graft.ops.Curation.curate(docs, "doc_id", "text", cfg).count()
      val rows = perBatch.toArray(Array.empty[BatchStat]).sortBy(_.id)
      val times = rows.map(_.sec)
      val k = math.min(10, times.length / 2)
      if (k > 0) {
        // medians: robust to host noise and to the periodic fold batch
        def med(xs: Array[Double]) = {
          val s = xs.sorted; s(s.length / 2)
        }
        val early = med(times.slice(1, 1 + k)) // skip batch 0 (JIT/warm)
        val late = med(times.takeRight(k))
        // the scale evidence alongside flat wall time: seen-side bytes
        // SELECTED for read per batch (claim-store read plan) must be
        // bounded by the batch, not grow with the claim corpus — and
        // the picked CHUNK COUNT is the noise-free witness that
        // selection tracks the batch's duplicate spread, not the fold
        // history (seen bytes also move with chunk granularity: merges
        // grow chunks toward foldTargetBytes)
        val bytes = rows.map(_.seenBytes.toDouble)
        val bEarly = med(bytes.slice(1, 1 + k))
        val bLate = med(bytes.takeRight(k))
        val picked = rows.map(_.picked.toDouble)
        val pEarly = med(picked.slice(1, 1 + k))
        val pLate = med(picked.takeRight(k))
        val fallbacks = rows.map(_.fallbacks).sum
        // fold-cost witness: sidecar (filter) bytes WRITTEN per fold
        // batch must track the fold's NEW claims, not the claim corpus
        // — early-half vs late-half medians over the fold batches only
        // (medians absorb the occasional size-tiered merge, which
        // rewrites bigger runs but amortizes to O(log batches)/claim)
        val folds = rows.filter(_.foldSidecarBytes > 0L)
          .map(_.foldSidecarBytes.toDouble)
        val (fsEarly, fsLate) =
          if (folds.length >= 2) {
            val half = folds.length / 2
            (med(folds.take(half)), med(folds.drop(folds.length - half)))
          } else (0.0, 0.0)
        val fppMax = rows.map(_.fppPpm).max
        println(f"""{"metric":"curate_stream_per_batch","early$k%d_med_sec":$early%.2f,"late$k%d_med_sec":$late%.2f,"late_over_early":${late / early}%.2f,"batches":${times.length},"seen_bytes_early$k%d_med":${bEarly}%.0f,"seen_bytes_late$k%d_med":${bLate}%.0f,"picked_chunks_early$k%d_med":$pEarly%.0f,"picked_chunks_late$k%d_med":$pLate%.0f,"bloom_full_fallbacks":$fallbacks%d,"fold_sidecar_bytes_early_med":$fsEarly%.0f,"fold_sidecar_bytes_late_med":$fsLate%.0f,"folds":${folds.length}%d,"probe_fpp_ppm_max":$fppMax%d}""")
      }
      (t, kept, keptBatch)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--curate-stream")) {
      val nDocs = if (args.length > 1) args(1).toLong else 200000L
      val cpus = if (args.length > 2) args(2).toInt else 32
      val dupGroup = if (args.length > 3) args(3).toInt else 5
      val batches = if (args.length > 4) args(4).toInt else 10
      val compactEvery = if (args.length > 5) args(5).toInt else 0
      runCurateStream(cpus, 5000, dupGroup, 2, compactEvery) // warmup
      val (t, kept, keptBatch) =
        runCurateStream(cpus, nDocs, dupGroup, batches, compactEvery)
      println(f"""{"metric":"curate_stream_docs_per_sec","value":${nDocs / t}%.1f,"unit":"docs/sec","docs":$nDocs,"cpus":$cpus,"batches":$batches,"compact_every":$compactEvery,"t_sec":$t%.1f,"kept":$kept,"kept_batch":$keptBatch,"parity":${kept == keptBatch}}""")
      return
    }
    if (args.headOption.exists(a => a == "--curate" || a == "--curate-full")) {
      val full = args.head == "--curate-full"
      val nDocs = if (args.length > 1) args(1).toLong else 400000L
      val cpus = if (args.length > 2) args(2).toInt else 32
      val dupGroup = if (args.length > 3) args(3).toInt else 5
      runCurate(cpus, 5000, dupGroup, full) // warmup
      val (t, kept) = runCurate(cpus, nDocs, dupGroup, full)
      val metric = if (full) "curate_full_docs_per_sec" else "curate_docs_per_sec"
      println(f"""{"metric":"$metric%s","value":${nDocs / t}%.1f,"unit":"docs/sec","docs":$nDocs,"cpus":$cpus,"dup_group":$dupGroup,"t_sec":$t%.1f,"kept":$kept}""")
      return
    }
    if (args.headOption.contains("--lines")) {
      val nDocs = if (args.length > 1) args(1).toLong else 400000L
      val cpus = if (args.length > 2) args(2).toInt else 32
      val boiler = if (args.length > 3) args(3).toInt else 5
      runLines(cpus, 5000, boiler) // warmup
      val (tLines, tNg, okDrops) = runLines(cpus, nDocs, boiler)
      println(f"""{"metric":"line_dedup_docs_per_sec","value":${nDocs / tLines}%.1f,"unit":"docs/sec","docs":$nDocs,"cpus":$cpus,"boiler_lines":$boiler,"t_line_dedup_sec":$tLines%.1f,"t_dup_ngrams_sec":$tNg%.1f,"drops_cover_boiler":$okDrops}""")
      return
    }
    if (args.headOption.contains("--chain")) {
      val nDocs = if (args.length > 1) args(1).toLong else 100000L
      val cpus = if (args.length > 2) args(2).toInt else 32
      val maxIterPlain = if (args.length > 3) args(3).toInt else 10
      val maxIterPD = if (args.length > 4) args(4).toInt else 25
      val (tPlain, convPlain, tPD, convPD, pdOneComponent) =
        runChain(cpus, nDocs, maxIterPlain, maxIterPD)
      println(f"""{"metric":"cc_chain_pd_sec","value":$tPD%.1f,"unit":"sec","docs":$nDocs,"cpus":$cpus,"t_plain_sec":$tPlain%.1f,"plain_converged":$convPlain,"plain_max_iter":$maxIterPlain,"t_pd_sec":$tPD%.1f,"pd_converged":$convPD,"pd_max_iter":$maxIterPD,"pd_one_component":$pdOneComponent}""")
      return
    }
    val nDocs = if (args.length > 0) args(0).toLong else 200000L
    val lo = if (args.length > 1) args(1).toInt else 8
    val hi = if (args.length > 2) args(2).toInt else 32
    val dupGroup = if (args.length > 3) args(3).toInt else 5
    run(lo, 5000, dupGroup) // warmup
    val (tLo, keptLo) = run(lo, nDocs, dupGroup)
    val (tHi, keptHi) = run(hi, nDocs, dupGroup)
    val expected = (0L until nDocs).map(i => i - i % dupGroup).distinct.size
    val eff = (tLo / tHi) / (hi.toDouble / lo)
    println(f"""{"metric":"dedup_docs_per_sec","value":${nDocs / tHi}%.1f,"unit":"docs/sec","docs":$nDocs,"dup_group":$dupGroup,"survivors":$keptHi,"expected_survivors":$expected,"t_low_sec":$tLo%.1f,"t_high_sec":$tHi%.1f,"low_cpus":$lo,"high_cpus":$hi,"scaling_efficiency":$eff%.3f,"identical_survivors":${keptLo == keptHi}}""")
  }
}
