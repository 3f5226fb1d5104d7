package graft.tmp

import org.apache.spark.sql.functions._

/** 100× e2e probe for the semantic near-dup method in CurateApp
  * (curation.nearDupMethod = semantic, VERDICT r11 missing #3): stage an
  * embedding-bearing corpus (documents ⋈ embeddings on doc_id = vec_id),
  * run the full curation pipeline with SemDeDup as the candidate
  * generator, and report wall-clock + the attrition report.
  *
  *   tools/run.sh graft.tmp.SemanticE2e /tmp/sf10n /tmp/e2e_semantic.json
  */
object SemanticE2e {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf10n"
    val outFile = if (args.length > 1) args(1) else "/tmp/e2e_semantic.json"
    // default 0.35 (the d17/c5x fixture threshold): the synthetic
    // embeddings are near-orthogonal, so the production 0.95 tau makes
    // the near-dup stage silent and the probe measures cost only
    val tau = if (args.length > 2) args(2).toDouble else 0.35
    val work = java.nio.file.Files.createTempDirectory("e2e_sem_").toString
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    docs.join(emb, Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$work/in/documents.parquet")
    val nDocs = spark.read.parquet(s"$work/in/documents.parquet").count()
    val t0 = System.nanoTime()
    val report = graft.CurateApp.run(spark, s"$work/in", s"$work/out",
        graft.Curation.default.copy(widths = graft.DedupWidths.default.copy(
          method = "semantic", semanticTau = tau)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    val json =
      s"""{"semantic_curate":{"input_docs":$nDocs,"tau":$tau,"run_sec":${f"$sec%.1f"},""" +
      s""""report":{${report.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
