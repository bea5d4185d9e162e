package graft

/** spark-submit entry for the composite curation pass
  * ([[graft.ops.Curation]]): read a documents parquet table
  * (idCol, textCol), write the survivors table + the per-stage funnel,
  * print the funnel as one JSON line.
  *
  *   runMain graft.RunCurate <docsParquet> <outDir> [idCol] [textCol] [flags...]
  *
  * Flags (each maps 1:1 onto a [[graft.ops.Curation.CurateConfig]]
  * field): --keep-langs en,de  --lang-scorer stopwords|trigram
  * --min-words N  --max-words N  --fraction F  --line-min-len N
  * --excise  --excise-min-len N  --decontam-ngram N
  * --no-normalize  --no-line-dedup  --no-gopher  --no-exact-dedup
  * plus --decontam <benchParquet> (runtime data: enables stage 4b
  * against that table's textCol)
  *
  * Scale shape: the whole pass is one lazy plan (see Curation); the
  * survivors write is the only action besides the funnel aggregate.
  */
object RunCurate {

  /** Parse the flag tail into a config; pure so tests can pin it. */
  def parseConfig(flags: Seq[String]): graft.ops.Curation.CurateConfig = {
    var cfg = graft.ops.Curation.CurateConfig()
    var rest = flags.toList
    while (rest.nonEmpty) rest match {
      case "--keep-langs" :: v :: t =>
        cfg = cfg.copy(keepLangs = v.split(",").filter(_.nonEmpty).toSet); rest = t
      case "--lang-scorer" :: v :: t => cfg = cfg.copy(langScorer = v); rest = t
      case "--min-words" :: v :: t => cfg = cfg.copy(minWords = v.toLong); rest = t
      case "--max-words" :: v :: t => cfg = cfg.copy(maxWords = v.toLong); rest = t
      case "--fraction" :: v :: t => cfg = cfg.copy(sampleFraction = v.toDouble); rest = t
      case "--line-min-len" :: v :: t => cfg = cfg.copy(lineMinLen = v.toInt); rest = t
      case "--excise" :: t => cfg = cfg.copy(excise = true); rest = t
      case "--excise-min-len" :: v :: t =>
        cfg = cfg.copy(excise = true, exciseMinLen = v.toInt); rest = t
      case "--decontam-ngram" :: v :: t => cfg = cfg.copy(decontamNgram = v.toInt); rest = t
      case "--no-normalize" :: t => cfg = cfg.copy(normalize = false); rest = t
      case "--no-line-dedup" :: t => cfg = cfg.copy(lineDedup = false); rest = t
      case "--no-gopher" :: t => cfg = cfg.copy(gopher = false); rest = t
      case "--no-exact-dedup" :: t => cfg = cfg.copy(exactDedup = false); rest = t
      case f :: _ => throw new IllegalArgumentException(s"unknown flag $f")
    }
    cfg
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunCurate <docsParquet> <outDir> [idCol] [textCol] [flags...]")
    val (in, out) = (args(0), args(1))
    val positional = args.drop(2).takeWhile(!_.startsWith("--"))
    require(positional.length <= 2,
      s"unexpected positional args ${positional.drop(2).mkString(" ")} — " +
        "usage: RunCurate <docsParquet> <outDir> [idCol] [textCol] [flags...]")
    val idCol = if (positional.length > 0) positional(0) else "doc_id"
    val textCol = if (positional.length > 1) positional(1) else "text"
    // --decontam <benchParquet> is runtime data, not config: strip it
    // before the config parse
    val flags0 = args.drop(2 + positional.length).toList
    val (benchPath, flags) = flags0.indexOf("--decontam") match {
      case -1 => (None, flags0)
      case i =>
        require(i + 1 < flags0.length, "--decontam needs a parquet path")
        (Some(flags0(i + 1)), flags0.take(i) ++ flags0.drop(i + 2))
    }
    val cfg = parseConfig(flags)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = RunPipeline.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val docs = spark.read.parquet(in)
      val bench = benchPath.map(spark.read.parquet(_))
      val report = graft.ops.Curation.curationReport(docs, idCol, textCol, cfg, bench)
        .localCheckpoint() // one evaluation feeds both the write and the funnel
      report.filter(org.apache.spark.sql.functions.col("keep"))
        .select(idCol, "text_curated")
        .write.mode("overwrite").parquet(s"$out/curated")
      val f = graft.ops.Curation.funnel(report).collect().head
      val json = s"""{"metric":"curate_funnel","n_docs":${f.getLong(0)},""" +
        s""""n_lang":${f.getLong(1)},"n_gopher":${f.getLong(2)},""" +
        s""""n_decontam":${f.getLong(3)},"n_exact":${f.getLong(4)},""" +
        s""""n_kept":${f.getLong(5)},"out":"$out/curated"}"""
      println(json)
    } finally spark.stop()
  }
}
