package graft

/** spark-submit entry for the snapshot-table streaming materialization
  * ([[StreamingPipeline.startSnap]]): stream a parquet docs directory
  * through the KG pipeline into a [[graft.table.SnapTable]], one
  * atomic manifest commit per micro-batch. The committed watermark is
  * `"epoch:batchId"`: pure engine replays skip on it, and a
  * checkpoint-loss restart bumps the epoch and doc-level anti-joins
  * its first (folded) batch — exactly-once in both directions (see
  * startSnap's scaladoc for the full argument).
  *
  *   runMain graft.RunSnapStream <docsDir|synth:N> <tableRoot> [--compact] [--expire K]
  *
  * `synth:N` writes the deterministic synthetic corpus next to the
  * table first (self-contained demo/bench). `--compact` folds the
  * per-batch files of buckets that accumulated several back into one
  * file per bucket ([[Pipeline.compactTriplesSnap]], snapshot-isolated);
  * `--expire K` retains only the newest K snapshots and GCs orphaned
  * data files. Prints one JSON line: snapshot id, watermark, rows,
  * files.
  */
object RunSnapStream {
  def main(args: Array[String]): Unit = {
    val usage = "usage: RunSnapStream <docsDir|synth:N> <tableRoot> [--compact] [--expire K]"
    // strip valued flags BEFORE deriving positionals, so `--expire 3`
    // can never bind 3 as a path
    val (expireK, rest) = args.indexOf("--expire") match {
      case -1 => (None, args.toList)
      case i =>
        require(i + 1 < args.length, s"--expire needs a count — $usage")
        (Some(args(i + 1).toInt), args.toList.take(i) ++ args.toList.drop(i + 2))
    }
    val (flags, positional) = rest.partition(_.startsWith("--"))
    flags.foreach(f => require(f == "--compact", s"unknown flag $f — $usage"))
    require(positional.length == 2,
      s"expected exactly 2 positional args, got ${positional.mkString(" ")} — $usage")
    val (in, tableRoot) = (positional(0), positional(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = RunPipeline.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val docsDir =
        if (!in.startsWith("synth:")) in
        else {
          val d = s"${tableRoot}_docs"
          graft.ingest.SynthCorpus.corpus(spark, in.drop(6).toLong)
            .write.mode("overwrite").parquet(d)
          d
        }
      val dict = Pipeline.broadcastDict(spark)
      StreamingPipeline.startSnap(spark, docsDir, tableRoot,
        s"${tableRoot}_ckpt", dict).awaitTermination()
      if (args.contains("--compact")) Pipeline.compactTriplesSnap(spark, tableRoot)
      expireK.foreach(k => graft.table.SnapTable.expire(spark, tableRoot, k))
      val snap = graft.table.SnapTable.snapshot(spark, tableRoot).get
      println(s"""{"metric":"snap_table","snapshot":${snap.id},""" +
        s""""watermark":${snap.watermark.map(w => s""""$w"""").getOrElse("null")},""" +
        s""""rows":${snap.files.map(_.rows).sum},"files":${snap.files.length},""" +
        s""""op":"${snap.op}","table":"$tableRoot"}""")
    } finally spark.stop()
  }
}
