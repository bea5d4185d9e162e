package graft

/** Focused per-query re-measure: runs the named registry queries
  * INTERLEAVED for `reps` rounds (the BENCH.md protocol — interleaving
  * spreads host-contention windows across all queries instead of
  * penalizing one) and reports the per-query minimum.
  *
  * Usage: runMain graft.QBench <reps> <query-name> [<query-name> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = RunPipeline.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val qs = graft.queries.Queries.registry
      .filter(q => names.isEmpty || names.contains(q._1))
    require(qs.nonEmpty, s"no registry queries match $names")

    // warmup each once (codegen + file listing)
    qs.foreach { case (_, fn, _) =>
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    }
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (_ <- 1 to reps; (name, fn, _) <- qs) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      println(f"[qbench] $name rep: $t%.3f s")
    }
    best.foreach { case (n, t) => println(f"[qbench] MIN $n: $t%.3f s") }
    spark.stop()
  }
}
