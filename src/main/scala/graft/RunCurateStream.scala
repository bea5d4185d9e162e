package graft

/** spark-submit entry for the CONTINUOUS curation funnel
  * ([[graft.streaming.StreamingCuration]]): watch a parquet docs
  * directory, run every arriving micro-batch through the full pass
  * (cross-batch dedup/excision claims in sidecars under outDir), and
  * print one JSON line with the cumulative survivor count on exit.
  *
  *   runMain graft.RunCurateStream <docsDir> <outDir> [idCol] [textCol] [flags...]
  *
  * Flags: the full [[RunCurate]] surface (--keep-langs --lang-scorer
  * --min-words --max-words --fraction --line-min-len --excise
  * --excise-min-len --decontam <benchParquet> --decontam-ngram
  * --no-*) plus --continuous <intervalMs> to keep watching instead of
  * the default AvailableNow backfill-and-exit, --compact-every <K>
  * to fold the claim sidecars into their sorted base every K batches
  * (keeps per-batch sidecar reads bounded on a long run), and
  * --max-files <N> to pace the backfill N files per micro-batch
  * (without it AvailableNow takes the whole backlog as one batch and
  * compaction never engages).
  */
object RunCurateStream {
  private def strip(flags: List[String], name: String): (Option[String], List[String]) =
    flags.indexOf(name) match {
      case -1 => (None, flags)
      case i =>
        require(i + 1 < flags.length, s"$name needs a value")
        (Some(flags(i + 1)), flags.take(i) ++ flags.drop(i + 2))
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunCurateStream <docsDir> <outDir> [idCol] [textCol] [flags...]")
    val (in, out) = (args(0), args(1))
    val positional = args.drop(2).takeWhile(!_.startsWith("--"))
    val idCol = if (positional.length > 0) positional(0) else "doc_id"
    val textCol = if (positional.length > 1) positional(1) else "text"
    val flags0 = args.drop(2 + positional.length).toList
    require(positional.length <= 2,
      s"unexpected positional args ${positional.drop(2).mkString(" ")} — " +
        "usage: RunCurateStream <docsDir> <outDir> [idCol] [textCol] [flags...]")
    val (benchPath, flags1) = strip(flags0, "--decontam")
    val (intervalMs, flags2) = strip(flags1, "--continuous")
    val (compactEvery, flags3) = strip(flags2, "--compact-every")
    val (maxFiles, flags) = strip(flags3, "--max-files")
    val cfg = RunCurate.parseConfig(flags)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // readStream needs a DIRECTORY as its basePath; a single parquet
    // file fails deep inside the source with an obscure error, so catch
    // the ergonomics trap here
    require(!java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(in)),
      s"docsDir must be a directory of parquet files, got a single file: $in — " +
        "pass its parent directory (readStream watches a basePath)")
    val spark = RunPipeline.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val bench = benchPath.map(spark.read.parquet(_))
      val trigger = intervalMs match {
        case Some(ms) =>
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(ms.toLong)
        case None => org.apache.spark.sql.streaming.Trigger.AvailableNow()
      }
      val q = graft.streaming.StreamingCuration.start(
        spark, in, out, idCol, textCol, cfg, bench, trigger,
        compactEvery.map(_.toInt).getOrElse(0),
        maxFiles.map(_.toInt).getOrElse(0))
      q.awaitTermination()
      val kept = spark.read.parquet(s"$out/curated").count()
      println(s"""{"metric":"curate_stream","n_kept":$kept,"out":"$out/curated"}""")
    } finally spark.stop()
  }
}
