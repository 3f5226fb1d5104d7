package graft.tmp

import org.apache.spark.sql.functions._

/** Regenerates `goldens/c5x_clusters.parquet` — the K-Means fit/assign
  * head of the `c5x_curate_report_semantic` oracle, computed over the
  * exact s3 (exact-dedup survivor) slice the engine's semantic candidate
  * generator sees at sf0.01. Only the fit is pinned: the oracle
  * recomputes the within-cluster cosine gate, connected components,
  * canonical resolution and the attrition report independently in DuckDB
  * from the raw documents/embeddings tables.
  *
  *   tools/run.sh graft.tmp.GenC5xGolden [sfDir]
  */
object GenC5xGolden {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = graft.sources.Catalog.documents(spark, dir).join(
      graft.sources.Catalog.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("embedding")),
      Seq("doc_id"))
    // the stage column encodes first-rejecting-stage, so "not rejected by
    // stages 1-3" IS the s3 slice the candidate generator ran on
    val (frame, release) = graft.CurateApp.taggedCached(corpus,
      graft.Curation.default.copy(widths = graft.DedupWidths.default.copy(
        method = "semantic", semanticTau = 0.35)))
    val s3 = corpus.join(
        frame.filter(!col("stage").isin("benchmark", "quality", "exact_dup"))
          .select(col("doc_id")),
        Seq("doc_id"))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val out = graft.operators.SimilaritySearch.semanticAssignments(s3)
      .orderBy("vec_id")
    val tmp = java.nio.file.Files.createTempDirectory("c5x_golden_").toString
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    release()
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get("goldens/c5x_clusters.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"wrote goldens/c5x_clusters.parquet (${out.count()} rows)")
    spark.stop()
  }
}
