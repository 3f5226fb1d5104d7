package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Compaction
import graft.queries.ScratchDirs

/** Compaction rewrites a many-small-files table into few sized files,
  * atomically, without changing its contents.
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("compact merges small files, preserves rows, leaves no staging debris") {
    import spark.implicits._
    val dir = ScratchDirs.create("compact_") + "/t"
    (1L to 10000L).map(i => (i, s"row $i")).toDF("id", "v")
      .repartition(64).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val sumBefore = before.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)

    val stats = Compaction.compact(spark, dir, targetBytes = 256L * 1024)
    assert(stats.filesBefore >= 60, s"fixture should be fragmented: ${stats.filesBefore}")
    assert(stats.filesAfter < stats.filesBefore / 4,
      s"${stats.filesBefore} -> ${stats.filesAfter}")
    assert(stats.rows == 10000L)

    val after = spark.read.parquet(dir)
    assert(after.count() == 10000L)
    assert(after.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == sumBefore)
    // no staging/old leftovers from the swap
    val leftovers = new java.io.File(dir).getParentFile.list().filter(n =>
      n.contains("staging") || n.endsWith(".old") || n.endsWith(".swap"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }
}
