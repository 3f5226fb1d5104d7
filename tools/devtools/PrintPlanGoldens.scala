package graft.tmp

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.plans.PlanFingerprint

/** Devtool: print the plan-fingerprint golden map for PlanGoldenSpec.
  * MUST use the same session config as SparkTestSession (local[4],
  * shuffle=4, UTC) — goldens are config-relative.
  *
  * Usage: tools/run.sh graft.tmp.PrintPlanGoldens [query...]
  * With no arguments it prints every `SparkEntry.queries` entry, sorted
  * by name, so a refactor can diff all fingerprints between two commits:
  * run it at both and `diff` the outputs. A query that fails to plan
  * prints `ERROR <message>` in place of its fingerprint, so the failure
  * shows in the diff instead of ending the dump.
  */
object PrintPlanGoldens {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val fp =
        try PlanFingerprint.of(SparkEntry.queries(name)(spark, sfDir))
        catch { case NonFatal(e) => s"ERROR ${e.getClass.getSimpleName}: ${e.getMessage}" }
      println(s"""GOLDEN    "$name" -> "$fp",""")
    }
    spark.stop()
  }
}
