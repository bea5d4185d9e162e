package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The COMPLETE curation funnel ([[graft.ops.Curation]]) as one
  * continuous streaming job: micro-batches of (doc_id, text) flow
  * through NFC -> global line dedup -> language ID -> Gopher -> exact
  * dedup -> deterministic sample, and the survivors land in
  * `outDir/curated/batch=N`.
  *
  * Why foreachBatch + claim tables, not chained stateful operators:
  * the funnel needs up to THREE first-seen state domains (line hashes,
  * n-gram claims when cfg.excise is on, curated-text hashes) keyed
  * differently, and Structured Streaming does not support two
  * `flatMapGroupsWithState` operators in one query. Cross-batch claims
  * live in one [[ClaimStore]] ([[graft.table.SnapTable]]) per domain
  * under the OUTPUT directory (`_lines_seen`, `_ngrams_seen`,
  * `_texts_seen`): each batch asks the store which of ITS hashes an
  * earlier batch claimed, and commits its new claims atomically with
  * the batch id as the table watermark. A replayed batch (crash between
  * claim commit and engine commit) is skipped on the watermark —
  * idempotent without any partition-overwrite guard, pinned by
  * StreamingSpec through a double-invoke and a checkpointed restart.
  *
  * Parity: over doc-ordered batches the kept set equals the batch
  * [[graft.ops.Curation.curate]] exactly — within a batch the in-batch
  * rule is literally the batch operator's, and across batches the
  * claim-store lookup reproduces the global first-occurrence /
  * first-surviving-owner decisions (same argument as
  * [[StreamingLineDedup]], pinned).
  *
  * Scale: per batch the plan is the batch funnel's (narrow flags, one
  * line-hash shuffle, one ownership shuffle) plus one claim lookup per
  * domain: a scan of every claim file of the domain (its bytes grow
  * with the claim history) semi-joined with the batch's hashes, so the
  * seen frame each later join uses is bounded by the batch.
  * [[compactSidecars]] folds committed batch claims into base files
  * every `compactEvery` batches (atomic snapshot rewrite; the existing
  * base is rewritten only by size-tiered merges). Without it the
  * claim-file list grows O(batches) — wire `compactEvery` on
  * [[start]]/[[processBatch]].
  */
object StreamingCuration {

  import graft.ops.Curation.CurateConfig

  /** The claim-table dir names of the three domains. */
  private val Sidecars = Seq("_lines_seen", "_ngrams_seen", "_texts_seen")

  /** Fold the claim files of batches `0..upToBatch` into the base
    * files of each domain's [[ClaimStore]].
    * ONLY COMMITTED batches may be folded: callers pass
    * `upToBatch = currentBatchId - 1` — the engine has committed every
    * batch below the one being processed, so no folded batch can ever
    * replay (a replay reaching behind a completed fold would see base
    * claims from batches it must ignore; rewinding the checkpoint that
    * far is out of contract, exactly as for the doc-commit sidecar).
    */
  def compactSidecars(spark: SparkSession, outDir: String, upToBatch: Long): Unit =
    for (name <- Sidecars)
      ClaimStore.fold(spark, s"$outDir/$name", upToBatch)

  /** One micro-batch through the funnel with claim state under
    * `outDir`. Exposed (not private) so the idempotency property is
    * directly testable.
    */
  def processBatch(batch: DataFrame, batchId: Long, outDir: String,
                   idCol: String, textCol: String,
                   cfg: CurateConfig,
                   bench: Option[DataFrame] = None,
                   compactEvery: Int = 0,
                   benchNg: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (batch.isEmpty) return
    // Each claim commit plus the final curated write is its own action;
    // pin the frames shared between them so the heavy shuffles (line
    // dedup, n-gram excision, decontam join) execute once per batch, not
    // once per action (RunCurate's localCheckpoint pattern, with an
    // explicit unpersist so a long-running stream holds no cache across
    // batches).
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += p
      p
    }
    try {
      processBatchImpl(batch, batchId, outDir, idCol, textCol, cfg, bench,
        benchNg, pin)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        compactSidecars(spark, outDir, batchId - 1) // only committed batches
    } finally pinned.foreach(_.unpersist(false))
  }

  private def processBatchImpl(batch: DataFrame, batchId: Long, outDir: String,
                               idCol: String, textCol: String,
                               cfg: CurateConfig,
                               bench: Option[DataFrame],
                               benchNg: Option[DataFrame],
                               pin: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._

    def claimRoot(name: String): String = s"$outDir/$name"
    // replay guard: a partitioned overwrite replaces this batch's own
    // earlier partial CURATED write and nothing else (claim replays are
    // handled inside ClaimStore on the table watermark)
    def writePart(df: DataFrame, name: String): Unit =
      df.withColumn("batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(s"$outDir/$name")

    // stages 1-2: NFC + line dedup (in-batch batch rule + cross-batch
    // line-hash claim lookup; short lines bypass exactly as in batch)
    val t0 = coalesce(col(textCol), lit(""))
    val normed = batch.select(col(idCol),
      (if (cfg.normalize) graft.expr.UnicodeNormalize(t0, "NFC") else t0)
        .as("_t0"))
    val curated =
      if (!cfg.lineDedup) normed.withColumn("text_curated", col("_t0"))
      else {
        // markDupLines already carries `elig`; keep = in-batch keep
        // AND (ineligible OR line hash not claimed by an earlier batch).
        // Pinned: it feeds the claim lookup, the keep join, and (via
        // keepDf) the claims write and the rebuild.
        val marked = pin(graft.ops.Dedup
          .markDupLines(normed, idCol, "_t0", cfg.lineMinLen)
          .withColumn("_lh", md5(col("line"))))
        // probe WITHOUT a distinct: the lookup is a semi-join, which
        // ignores repeated hashes, so the extra shuffle would buy nothing
        val probe = marked.filter(col("elig")).select(col("_lh").as("lh"))
        val seenSet = ClaimStore.seenFor(spark, claimRoot("_lines_seen"),
          probe, "lh", batchId).map(pin) // read once, used by keep join + claims anti-join
        // NO broadcast hint on the seen side: it grows with the batch's
        // duplicate density (AQE picks the strategy)
        val keepDf = pin(seenSet match {
          case Some(s) => marked.join(s.withColumnRenamed("lh", "_lh")
              .withColumn("_seen", lit(true)), Seq("_lh"), "left")
            .withColumn("keep",
              col("keep") && !(col("elig") && coalesce(col("_seen"), lit(false))))
            .drop("_seen")
          case None => marked
        })
        // commit this batch's newly-claimed eligible line hashes
        val newClaims = keepDf.filter(col("elig")).select(col("_lh").as("lh")).distinct()
        val toWrite = seenSet match {
          case Some(s) => newClaims.join(s, newClaims("lh") === s("lh"), "left_anti")
          case None => newClaims
        }
        ClaimStore.appendClaims(spark, claimRoot("_lines_seen"), toWrite, "lh", batchId)
        keepDf.groupBy(col(idCol))
          .agg(concat_ws("\n", expr(
            "transform(array_sort(collect_list(case when keep then struct(idx, line) end)), x -> x.line)"))
            .as("text_curated"))
      }

    // stage 2b (optional): variable-length excision with cross-batch
    // n-gram claims in a third domain (_ngrams_seen, md5 of the
    // n-gram). Coverage = in-batch non-first occurrences (the batch
    // operator's rule) UNION occurrences of n-grams claimed by earlier
    // batches; over doc-ordered batches the union reproduces the batch
    // exciseRebuild exactly (same first-global-occurrence argument).
    val excised =
      if (!cfg.excise) curated
      else {
        val n = cfg.exciseMinLen
        val curatedP = pin(curated) // the line groupBy feeds occ AND the rebuild
        val toks = curatedP.select(col(idCol),
          split(col("text_curated"), "\\s+").as("_ts"))
        val occ = graft.ops.Dedup.ngramOccurrences(toks, idCol, n)
          .withColumn("_nh", md5(col("ng")))
        // the ownership groupBy materializes exactly the distinct
        // n-gram set; pinned because it feeds the in-batch dup join,
        // the claim lookup, and the claims write
        val first = pin(occ.groupBy("ng")
          .agg(min(struct(col(idCol), col("i"))).as("_f")))
        val dupIn = occ.join(first, "ng")
          .filter(!(col(idCol) === col(s"_f.$idCol") && col("i") === col("_f.i")))
          .select(col(idCol), col("i"))
        val newNg = first.select(md5(col("ng")).as("nh"))
        val seenNg = ClaimStore.seenFor(spark, claimRoot("_ngrams_seen"),
          newNg, "nh", batchId).map(pin)
        val dupSeen = seenNg match {
          case Some(s) => occ.join(s.withColumnRenamed("nh", "_nh"), Seq("_nh"))
            .select(col(idCol), col("i"))
          case None => dupIn.limit(0)
        }
        val toWriteNg = seenNg match {
          case Some(s) => newNg.join(s, newNg("nh") === s("nh"), "left_anti")
          case None => newNg
        }
        ClaimStore.appendClaims(spark, claimRoot("_ngrams_seen"), toWriteNg, "nh", batchId)
        val spans = graft.ops.Dedup.mergeSpans(
          dupIn.union(dupSeen.select(col(idCol), col("i"))), idCol, n)
        toks.join(spans, Seq(idCol), "left")
          .select(col(idCol), concat_ws(" ", expr(
            """transform(
              |  filter(transform(_ts, (t, j) -> struct(j, t)),
              |         s -> spans is null or
              |              not exists(spans, sp -> s.j >= sp.st and s.j < sp.en)),
              |  x -> x.t)""".stripMargin)).as("text_curated"))
      }

    // stages 3-4: language + Gopher (narrow, identical to batch)
    val scored = cfg.langScorer match {
      case "trigram" => graft.ops.LangNgram.langIdNgram(excised, "text_curated")
        .drop(graft.ops.LangNgram.Langs.map(l => s"s_$l"): _*)
      case _ => graft.ops.TextAnalysis.langId(excised, "text_curated")
        .drop(graft.ops.TextAnalysis.Stopwords.keys.toSeq.map(l => s"hits_$l"): _*)
    }
    val withLang = scored.withColumn("keep_lang",
      if (cfg.keepLangs.isEmpty) lit(true)
      else col("pred_lang").isInCollection(cfg.keepLangs))
    val withGopher =
      if (!cfg.gopher) withLang.withColumn("keep_gopher", lit(true))
      else graft.ops.TextAnalysis.withGopherFlags(withLang, "text_curated",
          cfg.minWords, cfg.maxWords)
        .withColumn("keep_gopher", col("keep") === 1L)
        .drop("keep", "flag_word_count", "flag_mean_word_len",
          "flag_symbol_ratio", "flag_stopwords")

    // stage 4b (optional): decontamination is STATELESS (the bench
    // n-gram set is static and broadcasts) — per-batch application IS
    // the batch rule, no claim state needed
    // the bench n-gram set is STATIC across the stream: use the
    // precomputed (persisted) set when the caller supplies one instead
    // of re-deriving it every micro-batch
    val ngSet: Option[DataFrame] = benchNg.orElse(bench.map(b =>
      graft.ops.TextAnalysis.benchNgramSet(
        b.select(col(textCol).as("text_curated")), "text_curated",
        cfg.decontamNgram)))
    val withDecontam = pin(ngSet match {
      case None => withGopher.withColumn("keep_decontam", lit(true))
      case Some(ngs) =>
        val hits = graft.ops.TextAnalysis.decontaminateNg(
          withGopher.select(col(idCol), col("text_curated")),
          ngs, idCol, "text_curated", cfg.decontamNgram)
          .withColumnRenamed("n_hits", "_nh")
        withGopher.join(hits, Seq(idCol), "left")
          .withColumn("keep_decontam", col("_nh").isNull)
          .drop("_nh")
    })

    // stage 5: exact dedup — in-batch ownership over survivors +
    // cross-batch lookup of earlier batches' surviving hashes
    val withExact =
      if (!cfg.exactDedup) withDecontam.withColumn("keep_exact", lit(true))
      else {
        val survivors = withDecontam
          .filter(col("keep_lang") && col("keep_gopher") && col("keep_decontam"))
          .withColumn("_h", md5(col("text_curated")))
        val owners = survivors.groupBy("_h").agg(min(col(idCol)).as("_owner"))
        val newHashes = pin(survivors.select(col("_h").as("th")).distinct())
        val seen = ClaimStore.seenFor(spark, claimRoot("_texts_seen"),
          newHashes, "th", batchId).map(pin)
        // seen side unbroadcast for the same growth reason as lines
        val ownersUnseen = seen match {
          case Some(s) => owners.join(s.withColumnRenamed("th", "_h")
              .withColumn("_seen", lit(true)), Seq("_h"), "left")
            .withColumn("_owner",
              when(coalesce(col("_seen"), lit(false)), lit(null)).otherwise(col("_owner")))
            .drop("_seen")
          case None => owners
        }
        val toWrite = seen match {
          case Some(s) => newHashes.join(s, newHashes("th") === s("th"), "left_anti")
          case None => newHashes
        }
        ClaimStore.appendClaims(spark, claimRoot("_texts_seen"), toWrite, "th", batchId)
        withDecontam.withColumn("_h", md5(col("text_curated")))
          .join(ownersUnseen, Seq("_h"), "left")
          .withColumn("keep_exact",
            coalesce(col(idCol) === col("_owner"), lit(false)))
          .drop("_h", "_owner")
      }

    // stage 6 + commit: deterministic sample, then the batch's
    // survivors overwrite their own partition
    val kept = withExact.withColumn("keep_sample",
        if (cfg.sampleFraction >= 1.0) lit(true)
        else md5(concat(lit("sample:"), col(idCol).cast("string")))
          < lit(graft.ops.TextAnalysis.hexThreshold(cfg.sampleFraction)))
      .filter(col("keep_lang") && col("keep_gopher") && col("keep_decontam") &&
        col("keep_exact") && col("keep_sample"))
      .select(col(idCol), col("text_curated"))
    writePart(kept, "curated")
  }

  /** Start the continuous funnel over a parquet docs directory.
    * AvailableNow by default (bounded backfill); pass a processing-time
    * trigger for an infinite stream.
    */
  def start(spark: SparkSession, docsDir: String, outDir: String,
            idCol: String = "doc_id", textCol: String = "text",
            cfg: CurateConfig = CurateConfig(),
            bench: Option[DataFrame] = None,
            trigger: Trigger = Trigger.AvailableNow(),
            compactEvery: Int = 0,
            maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val schema = spark.read.parquet(docsDir).schema
    // static bench -> its n-gram set is computed and persisted ONCE for
    // the stream's lifetime instead of per micro-batch
    val benchNg = bench.map(b => graft.ops.TextAnalysis.benchNgramSet(
      b.select(col(textCol).as("text_curated")), "text_curated",
      cfg.decontamNgram).persist())
    val reader = spark.readStream.schema(schema)
    // pacing: without it AvailableNow takes the whole backlog as ONE
    // micro-batch — fine for parity, but periodic compaction and bounded
    // per-batch memory need the backfill chunked
    val paced = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else reader
    paced.parquet(docsDir)
      .writeStream
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, outDir, idCol, textCol, cfg, bench, compactEvery,
          benchNg)
      }
      .start()
  }
}
