package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class EntrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("entry returns triples from the documents corpus") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSet == Set("doc_id", "subj", "pred", "obj"))
    val n = df.count()
    info(s"entry triples: $n")
    assert(n > 0)
  }

  test("every registered query runs and every oracle has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size >= 33)
  }

  test("dynamic oracles build once the sf dir is set (the Verify path)") {
    val _ = spark // the builders need SparkSession.active
    graft.queries.Queries.oracleSfDir = Some("/root/testdata/sf0.001")
    try {
      val m = SparkEntry.oracleSql
      assert(m.contains("q26_make_id") && m.contains("q27_ivf_kmeans"))
      assert(m("q26_make_id").contains("VALUES") && m("q27_ivf_kmeans").contains("VALUES"))
    } finally graft.queries.Queries.oracleSfDir = None
  }

  test("entry-point arg guards fail fast: stray positionals, single-file docs path") {
    // a single parquet FILE is not a valid readStream basePath — the
    // entry must say so instead of failing deep inside the source
    val f = java.nio.file.Files.createTempFile("docs", ".parquet")
    val ex = intercept[IllegalArgumentException] {
      RunCurateStream.main(Array(f.toString, "/tmp/out_nope"))
    }
    assert(ex.getMessage.contains("directory"), ex.getMessage)
    // a typo'd flag without leading dashes must error, not be swallowed
    intercept[IllegalArgumentException] {
      RunCurateStream.main(Array("/tmp/in", "/tmp/out", "id", "text", "stray"))
    }
    intercept[IllegalArgumentException] {
      RunCurate.main(Array("/tmp/in", "/tmp/out", "id", "text", "no-gopher"))
    }
  }
}
