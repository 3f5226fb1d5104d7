package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Models
import graft.operators.Retention
import graft.queries.ScratchDirs

/** T4 retention purge on a date-partitioned table + the dormant SVM path. */
class RetentionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("purgeOlderThan drops old partitions wholesale but keeps exempted rows") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft_retention")
    val rows = Seq(
      ("2026-01-01 10:00:00", 1L, 0), ("2026-01-02 10:00:00", 2L, 1), // old; id=2 exempt
      ("2026-01-10 10:00:00", 3L, 0), ("2026-01-11 10:00:00", 4L, 0)) // recent
      .toDF("ts_s", "id", "priority")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    Retention.writePartitioned(rows, "ts", dir)
    assert(spark.read.parquet(dir).count() == 4)
    Retention.purgeOlderThan(spark, dir, "2026-01-05",
      keepPredicate = Some(col("priority") === 1))
    val left = spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(2L, 3L, 4L)) // id=1 purged; exempt + recent stay
    // partition directory for the fully-dead day is gone (metadata delete)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(!dirs.contains("ds=2026-01-01") && dirs.contains("ds=2026-01-02"))
  }

  test("a purge killed between delete and restore is completed on recovery") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft_retention_crash")
    val rows = Seq(
      ("2026-01-01 10:00:00", 1L, 0), ("2026-01-02 10:00:00", 2L, 1), // old; id=2 exempt
      ("2026-01-10 10:00:00", 3L, 0))                                 // recent
      .toDF("ts_s", "id", "priority")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    Retention.writePartitioned(rows, "ts", dir)
    // reproduce the crashed run's durable prefix: survivors staged +
    // marker written, old partitions deleted, then the process died
    // BEFORE restoring the staged survivors
    val staging = s"$dir/_purge_staging"
    spark.read.parquet(dir).filter(col("ds") < "2026-01-05" && col("priority") === 1)
      .write.partitionBy("ds").mode("overwrite").parquet(staging)
    java.nio.file.Files.write(java.nio.file.Paths.get(staging, "_CUTOFF"),
      "2026-01-05\ndeadrun1".getBytes("UTF-8"))
    Seq("ds=2026-01-01", "ds=2026-01-02").foreach { p =>
      val f = new java.io.File(dir, p)
      f.listFiles().foreach(_.delete()); f.delete()
    }
    // at this instant the table has LOST the exempt row — only staging has it
    assert(spark.read.parquet(dir).count() == 1)
    // the next purge call recovers the predecessor before doing its own work
    Retention.purgeOlderThan(spark, dir, "2026-01-05",
      keepPredicate = Some(col("priority") === 1))
    val left = spark.read.parquet(dir).select("id").collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(2L, 3L))
    assert(!new java.io.File(staging).exists())
  }

  test("a staging write with no marker is rolled back untouched") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft_retention_nomark")
    val rows = Seq(("2026-01-01 10:00:00", 1L, 0), ("2026-01-10 10:00:00", 2L, 0))
      .toDF("ts_s", "id", "priority")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    Retention.writePartitioned(rows, "ts", dir)
    // crash mid-staging-write: files exist but no _CUTOFF marker
    Seq((1L, "x")).toDF("id", "junk").write
      .parquet(s"$dir/_purge_staging/ds=2026-01-01")
    Retention.recoverPendingPurge(spark, dir)
    assert(!new java.io.File(s"$dir/_purge_staging").exists())
    assert(spark.read.parquet(dir).count() == 2) // table untouched
  }

  test("a corrupt (partially-written) marker rolls the staging back safely") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft_retention_badmark")
    val rows = Seq(("2026-01-01 10:00:00", 1L, 0), ("2026-01-10 10:00:00", 2L, 0))
      .toDF("ts_s", "id", "priority")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    Retention.writePartitioned(rows, "ts", dir)
    Seq((1L, "x")).toDF("id", "junk").write
      .parquet(s"$dir/_purge_staging/ds=2026-01-01")
    // crash mid-marker-write: only the cutoff line made it to disk
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_purge_staging", "_CUTOFF"),
      "2026-01-05".getBytes("UTF-8"))
    Retention.recoverPendingPurge(spark, dir)
    assert(!new java.io.File(s"$dir/_purge_staging").exists())
    assert(spark.read.parquet(dir).count() == 2) // table untouched
  }

  test("deleteKeys erases listed keys, rewriting only affected partitions") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft_delkeys")
    val rows = Seq(
      ("2026-01-01 10:00:00", 1L, 10), ("2026-01-01 11:00:00", 2L, 20),
      ("2026-01-02 10:00:00", 1L, 30), ("2026-01-03 10:00:00", 3L, 40))
      .toDF("ts_s", "user_id", "v")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    Retention.writePartitioned(rows, "ts", dir)
    val before = new java.io.File(s"$dir/ds=2026-01-03").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq
    Retention.deleteKeys(spark, dir, Seq(1L).toDF("user_id"), "user_id")
    val left = spark.read.parquet(dir).select("user_id", "v")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(left.toSeq == Seq((2L, 20), (3L, 40)))
    // the untouched partition kept its exact files (no full-table rewrite)
    val after = new java.io.File(s"$dir/ds=2026-01-03").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq
    assert(after == before)
    // re-running with the same key list is a no-op
    Retention.deleteKeys(spark, dir, Seq(1L).toDF("user_id"), "user_id")
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("a keyed delete killed mid-swap completes on recovery") {
    import spark.implicits._
    val dir = ScratchDirs.create("graft_delkeys_crash")
    val rows = Seq(
      ("2026-01-01 10:00:00", 1L, 10), ("2026-01-01 11:00:00", 2L, 20),
      ("2026-01-02 10:00:00", 3L, 30))
      .toDF("ts_s", "user_id", "v")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    Retention.writePartitioned(rows, "ts", dir)
    // durable prefix of a crashed run: survivors staged + marker written,
    // affected partition deleted, death before restore
    val staging = s"$dir/_delete_staging"
    spark.read.parquet(dir)
      .filter(col("ds") === "2026-01-01" && col("user_id") =!= 1L)
      .write.partitionBy("ds").parquet(staging)
    val runId = "cafef00d"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$staging/_KEYS"),
      s"2026-01-01\n$runId".getBytes("UTF-8"))
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete()
    }
    deleteRec(new java.io.File(s"$dir/ds=2026-01-01"))
    // recovery completes the swap: survivor restored, other partition intact
    Retention.recoverPendingDelete(spark, dir)
    val left = spark.read.parquet(dir).select("user_id").collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(2L, 3L))
    assert(!new java.io.File(staging).exists())
  }

  test("linearSvc learns a separable boundary (M6 dormant path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 300).map { _ =>
      val x = rnd.nextDouble() * 10
      (x, x + rnd.nextGaussian() * 0.1, if (x > 5) 1.0 else 0.0)
    }.toDF("x", "y", "label")
    val scored = Models.linearSvc(df, "label", Seq("x", "y"))
    val acc = scored.select(avg((col("prediction") === col("label")).cast("double")))
      .head().getDouble(0)
    assert(acc > 0.95, s"accuracy $acc")
  }
}
