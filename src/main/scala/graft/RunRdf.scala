package graft

import org.apache.spark.sql.SparkSession

/** spark-submit entry for the reference's second entry point
  * (`POST /api/rdf`): expand externally-supplied CSVW metadata
  * documents against their CSVs — stages B-D skipped, the metadata is
  * authoritative.
  *
  *   runMain graft.RunRdf fixtures <outDir>          # shipped goldens
  *   runMain graft.RunRdf <pairsParquetDir> <outDir> # (metadata_json, csv_text) rows
  *
  * Writes <outDir>/triples (a [[graft.table.SnapTable]] with per-file
  * pred_bucket bounds — atomic commit, time travel, snapshot-isolated
  * compaction) and <outDir>/ntriples (canonical sorted text).
  */
object RunRdf {

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("fixtures")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_rdf_out"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = RunPipeline.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pairs = what match {
      case "fixtures" =>
        val rows = Seq("example", "example2", "example5").map { n =>
          val metaJson = graft.ingest.Fixtures.read(s"examples/$n-metadata.json")
          val csv = graft.ingest.Fixtures.text(s"$n.csv")
          (metaJson, csv)
        }
        spark.createDataset(rows)
      case dir =>
        spark.read.parquet(dir)
          .selectExpr("cast(metadata_json as string)", "cast(csv_text as string)")
          .as[(String, String)]
    }

    val t0 = System.nanoTime()
    val ts = Pipeline.triplesFromMetadata(pairs)
    val snap = Pipeline.writeTriplesSnap(ts, s"$outDir/triples")
    Pipeline.writeSortedNTriples(
      Pipeline.readTriplesSnap(spark, s"$outDir/triples")
        .select($"doc_id", $"subj", $"pred", $"obj").as[TripleRow],
      s"$outDir/ntriples")
    val n = snap.files.map(_.rows).sum // manifest-side, no second scan
    println(f"[rdf] triples=$n snapshot=${snap.id} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
