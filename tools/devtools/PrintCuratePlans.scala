package graft.tmp

import org.apache.spark.sql.SparkSession

/** Devtool: plan fingerprints of the curation DAG for all 18 combinations
  * of qualityGate × contamGate × nearDupMethod ∈ {minhash, simhash}
  * (same session config as SparkTestSession — goldens are
  * config-relative). The minhash lines are CuratePlanSpec's goldens; run
  * it at two commits and `diff` the outputs to check a refactor.
  *
  *   tools/run.sh graft.tmp.PrintCuratePlans
  */
object PrintCuratePlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]").appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.sources.Catalog.documents(spark, "/root/testdata/sf0.001")
    for (q <- Seq("score", "gopher", "perplexity"); c <- Seq("overlap", "fuzzy", "surgery");
         m <- Seq("minhash", "simhash")) {
      val curation = graft.Curation.default.copy(qualityGate = q, contamGate = c,
        widths = graft.DedupWidths.default.copy(method = m))
      val fp = graft.plans.PlanFingerprint.of(graft.CurateApp.tagged(docs, curation))
      println(s"""GOLDEN    ("$q", "$c", "$m") -> "$fp",""")
    }
    spark.stop()
  }
}
