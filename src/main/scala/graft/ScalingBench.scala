package graft

import org.apache.spark.sql.SparkSession

/** Scaling-efficiency evidence (BASELINE north rule): the same pipeline
  * job at two parallelism levels — local[N] vs local[4N] as the sandbox
  * proxy for N vs 4N executors — on the identical deterministic corpus.
  *
  * The sandbox host is noisy (2x swings between identical runs), so each
  * level is run `reps` times interleaved and the per-level minimum
  * (least-contended sample) is reported. Outputs are verified identical
  * across levels (xor-hash) — determinism under parallelism.
  *
  *   runMain graft.ScalingBench [nDocs] [lowCpus] [highCpus] [reps]
  */
object ScalingBench {

  def run(cpus: Int, nDocs: Long): (Double, Long, Long) = {
    val spark = RunPipeline.session(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    try {
      val dict = Pipeline.broadcastDict(spark)
      // fixed split count at both levels: only executor-thread count
      // varies, like adding executors to a cluster
      val parts = 128
      val t0 = System.nanoTime()
      val ts = Pipeline.triples(graft.ingest.SynthCorpus.corpus(spark, nDocs, parts), dict)
      val agg = ts.select(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj")).as("h"))
        .agg(expr("bit_xor(h)").as("x"), count(lit(1)).as("n")).collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      (secs, agg.getLong(0), agg.getLong(1))
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 150000L
    val lo = if (args.length > 1) args(1).toInt else 8
    val hi = if (args.length > 2) args(2).toInt else 32
    val reps = if (args.length > 3) args(3).toInt else 3
    run(lo, 2000) // JVM + codegen warmup
    val los = Vector.newBuilder[(Double, Long, Long)]
    val his = Vector.newBuilder[(Double, Long, Long)]
    for (_ <- 1 to reps) {
      los += run(lo, nDocs)
      his += run(hi, nDocs)
    }
    val l = los.result(); val h = his.result()
    val tLo = l.map(_._1).min
    val tHi = h.map(_._1).min
    val factor = hi.toDouble / lo
    val eff = (tLo / tHi) / factor
    val hashes = (l ++ h).map(r => (r._2, r._3)).distinct
    val identical = hashes.size == 1
    println(f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","docs":$nDocs,"low_cpus":$lo,"high_cpus":$hi,"reps":$reps,"t_low_sec":$tLo%.1f,"t_high_sec":$tHi%.1f,"docs_per_sec_low":${nDocs / tLo}%.1f,"docs_per_sec_high":${nDocs / tHi}%.1f,"t_low_all":[${l.map(x => f"${x._1}%.1f").mkString(",")}],"t_high_all":[${h.map(x => f"${x._1}%.1f").mkString(",")}],"triples":${l.head._3},"identical_output":$identical}""")
  }
}
