package graft

/** Optimization-round tooling (guide §1): dump `.explain("formatted")`
  * for the named queries (or all) to plans/<tag>/<query>_<suffix>.txt.
  * Separate main — Bench.scala is frozen for measurement.
  *
  * Usage: runMain graft.PlanDump <suffix> [query ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_PLAN_DIR (default plans/r09).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r09")
    val suffix = if (args.nonEmpty) args(0) else "before"
    val names = args.drop(1).toSet
    val spark = RunPipeline.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.queries.Queries.registry.foreach { case (name, fn, _) =>
      if (names.isEmpty || names.contains(name)) {
        spark.sparkContext.setJobDescription(s"plan: $name")
        val txt =
          try {
            val df = fn(spark, sfDir)
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          } catch { case e: Throwable => s"ERROR: $e" }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      }
    }
    spark.stop()
  }
}
