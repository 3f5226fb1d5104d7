package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retention purge (SURVEY T4, `HogPrepare.scala:52-141`): the reference
  * issues driver-side time-sliced HBase scans and per-row deletes; here
  * retention is a partition-level operation on a date-partitioned table —
  * old partitions drop without touching surviving rows (the
  * `.par`-scan/delete machinery disappears entirely).
  *
  * [[purgeOlderThan]] and [[deleteKeys]] are one partition rewrite
  * (`rewrite` below) on two staging dirs. It is [[StateSwap]]'s
  * stage → mark → finish → recover protocol applied to partition files
  * instead of a whole directory: the filesystem is resolved from the
  * table path and every rename is StateSwap's checked rename, so a
  * failed restore fails loudly instead of dropping the survivors.
  */
object Retention {

  /** Write a frame as a date-partitioned table (the layout every
    * 100 TB fact table needs: partition pruning makes both queries and
    * retention O(partitions touched)).
    */
  def writePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("ds", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.partitionBy("ds").mode("overwrite").parquet(path)

  /** One kind of partition rewrite: its staging dir (the underscore
    * prefix keeps it invisible to parquet readers of the table), its
    * marker file inside that dir, and which `ds` values die given the
    * marker's first line.
    */
  private final case class Rewrite(staging: String, marker: String,
      dies: String => String => Boolean)

  private val Purge = Rewrite("_purge_staging", "_CUTOFF", cutoff => _ < cutoff)
  private val Erase = Rewrite("_delete_staging", "_KEYS", dsList => dsList.split(",").toSet)

  /** Drop partitions older than `cutoffDate` (yyyy-MM-dd), keeping rows
    * matching `keepPredicate` (the reference's "flows with priority-1
    * events survive the purge" exemption, HogPrepare.scala:52-84).
    *
    * Crash-safe sequencing — survivors are DURABLE before any delete:
    *   1. finish any purge a previous crashed run left behind;
    *   2. write survivors to `_purge_staging/` (a real parquet write,
    *      not a cache — at 100 TB "survivors in executor memory" is not
    *      durability), then a `_CUTOFF` marker naming cutoff + run id;
    *   3. delete old partition files (all except files this run already
    *      restored — makes the step idempotent under re-run);
    *   4. rename staged files into their partition dirs;
    *   5. drop the staging dir (the commit point).
    * A crash before the marker exists aborts cleanly (table untouched);
    * a crash after it is completed by [[recoverPendingPurge]] on the
    * next call, re-running 3–5 with the recorded cutoff/run id.
    * Partition-dir deletes and file renames are O(files) namenode
    * metadata ops — no surviving row is ever rewritten.
    */
  def purgeOlderThan(spark: SparkSession, path: String, cutoffDate: String,
      keepPredicate: Option[Column] = None): Unit = {
    recoverPendingPurge(spark, path) // a crashed predecessor commits first
    val old = spark.read.parquet(path).filter(col("ds") < cutoffDate)
    rewrite(spark, path, Purge, cutoffDate,
      keepPredicate.map(old.filter).getOrElse(old.limit(0)))
  }

  /** Complete a purge whose process died between staging and commit.
    * No-op when nothing is pending. Safe to call any time.
    */
  def recoverPendingPurge(spark: SparkSession, path: String): Unit =
    recoverPending(spark, path, Purge)

  /** Delete every row whose `keyCol` value appears in `keys` (the GDPR /
    * right-to-erasure pass), rewriting ONLY partitions that contain at
    * least one matching row — erasing one user from a 100 TB table costs
    * the partitions that user touched, not a full rewrite. Same
    * survivors-durable-before-delete sequencing and crash contract as
    * [[purgeOlderThan]], on its own staging dir (`_delete_staging`, marker
    * `_KEYS` naming the affected dates) so the two operations can't
    * corrupt each other's recovery.
    */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String): Unit = {
    recoverPendingDelete(spark, path)
    val table = spark.read.parquet(path)
    val k = keys.select(col(keyCol)).distinct()
    // the affected-partition list is dates — tiny — so the collect is safe
    val affected = table.join(k, Seq(keyCol), "left_semi")
      .select(col("ds").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (affected.isEmpty) return
    rewrite(spark, path, Erase, affected.mkString(","), table
      .filter(col("ds").cast("string").isin(affected: _*))
      .join(k, Seq(keyCol), "left_anti"))
  }

  /** Complete a keyed delete whose process died mid-swap; no-op
    * otherwise. Same partial-marker semantics as [[recoverPendingPurge]].
    */
  def recoverPendingDelete(spark: SparkSession, path: String): Unit =
    recoverPending(spark, path, Erase)

  /** Stage `survivors` of the partitions `op.dies(scope)` selects, mark
    * the run (`scope` and a run id, closed before any delete), then
    * [[finish]].
    */
  private def rewrite(spark: SparkSession, path: String, op: Rewrite,
      scope: String, survivors: DataFrame): Unit = {
    val fs = StateSwap.fileSystem(spark, path)
    val staging = new Path(path, op.staging)
    fs.delete(staging, true)
    survivors.write.partitionBy("ds").mode("overwrite").parquet(staging.toString)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val out = fs.create(new Path(staging, op.marker), true)
    try out.write(s"$scope\n$runId".getBytes("UTF-8")) finally out.close()
    finish(fs, path, op, scope, runId)
  }

  private def recoverPending(spark: SparkSession, path: String, op: Rewrite): Unit = {
    val fs = StateSwap.fileSystem(spark, path)
    val staging = new Path(path, op.staging)
    if (!fs.exists(staging)) return
    // a missing OR partially-written marker both mean the crash happened
    // BEFORE any delete ran (the marker is written, and closed, first):
    // dropping the staging dir restores the pre-call state exactly
    val marker = new Path(staging, op.marker)
    val lines =
      if (!fs.exists(marker)) Array[String]()
      else {
        val in = fs.open(marker)
        try new String(in.readAllBytes(), "UTF-8").trim.split("\n") finally in.close()
      }
    if (lines.length != 2 || lines.exists(_.isEmpty)) fs.delete(staging, true)
    else finish(fs, path, op, lines(0), lines(1))
  }

  /** Steps 3–5, idempotent under re-run: delete the dying partitions'
    * files, sparing files already restored by run `runId` (so a recovery
    * re-run never eats its own survivors; files restored by EARLIER runs
    * are regular data and do get purged), then rename each staged file
    * into its partition dir under a `restored-<runId>-` name, then drop
    * the staging dir.
    */
  private def finish(fs: FileSystem, path: String, op: Rewrite,
      scope: String, runId: String): Unit = {
    val restored = s"restored-$runId-"
    val dies = op.dies(scope)
    fs.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("ds="))
      .filter(s => dies(s.getPath.getName.stripPrefix("ds=")))
      .foreach { dir =>
        val (keep, drop) = fs.listStatus(dir.getPath)
          .partition(_.getPath.getName.startsWith(restored))
        drop.foreach(f => fs.delete(f.getPath, true))
        if (keep.isEmpty) fs.delete(dir.getPath, true)
      }
    val staging = new Path(path, op.staging)
    fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("ds="))
      .foreach { dsDir =>
        val target = new Path(path, dsDir.getPath.getName)
        fs.mkdirs(target)
        fs.listStatus(dsDir.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .foreach { f =>
            val dst = new Path(target, restored + f.getPath.getName)
            if (!fs.exists(dst)) StateSwap.renameOrDie(fs, f.getPath, dst)
          }
      }
    fs.delete(staging, true)
  }
}
