package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The one crash-safe commit path: the only code that stages, marks,
  * renames or recovers a state directory (reference semantics: the HBase
  * profile tables are replaced wholesale per run — `HogzillaBatch`/
  * `HogAuth` overwrite learned state each cycle).
  *
  * Uses the Hadoop FileSystem API throughout, resolved from the state
  * path, so state can live on HDFS/S3A as well as local disk (the
  * `spark-submit` production story), and — unlike a bare
  * `java.io.File.renameTo` chain — every rename checks its return value
  * and fails loudly, and a marker file makes a crash between the two
  * renames recoverable instead of a silent cold-start.
  *
  * Protocol (all paths derived from `target`):
  *  1. write the new state to `<target>.staging`
  *  2. create `<target>.swap` marker      (swap is now in flight)
  *  3. rename `<target>` → `<target>.old` (if a current state exists)
  *  4. rename `<target>.staging` → `<target>`
  *  5. delete `<target>.old`, delete marker
  *
  * [[recover]] completes a swap that died at any point after step 2: the
  * marker says staging is complete, so the staged state simply finishes
  * its promotion. A staging dir with NO marker is an incomplete write and
  * is discarded. A commit runs steps 3-5 by calling [[recover]] too, so
  * the recovery code is the code every swap runs. Every read recovers
  * first ([[readOrElse]], [[readTableOrElse]], [[readGroup]]).
  *
  * Callers:
  *  - the nine GraftApp profile tables ([[swap]], one per HIST table);
  *  - the auth (`auth_state`) and curation (`corpus_state`, `lm_state`,
  *    `bench_state`) multi-table roots ([[swapAll]]);
  *  - the curation delta log, one `corpus_deltas/batch=<id>` per applied
  *    micro-batch ([[swapAll]]), listed by [[roots]] and reaped after a
  *    fold by [[drop]];
  *  - IVF index rebalance ([[swapStaged]]) and [[Compaction]] ([[swap]]);
  *  - cdc upsert (`StreamingJobs.cdcUpsertMicroBatches`, [[swap]]);
  *  - [[Retention]], whose partition rewrites keep their own markers but
  *    resolve their filesystem ([[fileSystem]]) and rename
  *    ([[renameOrDie]]) here.
  */
object StateSwap {

  /** The filesystem that holds `path` (not the default filesystem). */
  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Staging = ".staging"
  private val Old = ".old"
  private val Marker = ".swap"

  private def stagingOf(t: Path) = new Path(t.getParent, t.getName + Staging)
  private def oldOf(t: Path)     = new Path(t.getParent, t.getName + Old)
  private def markerOf(t: Path)  = new Path(t.getParent, t.getName + Marker)

  private[operators] def renameOrDie(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      sys.error(s"StateSwap: rename $src -> $dst failed (state left recoverable; " +
        "rerun the operation)")

  /** Replace `target` with `df` via stage-then-swap. Loud on any failed
    * rename; a crash at any point leaves the state recoverable by
    * [[recover]] (old or new is always observable, never partial).
    */
  def swap(df: DataFrame, target: String): Unit =
    swapStaged(df.sparkSession, target)(df.write.mode(SaveMode.Overwrite).parquet(_))

  /** Complete a swap that died mid-flight; discard incomplete staging
    * writes. No-op when the state is clean. Safe to call unconditionally
    * before any read.
    */
  def recover(spark: SparkSession, target: String): Unit = {
    val fs = fileSystem(spark, target)
    val t = new Path(target)
    val (staging, old, marker) = (stagingOf(t), oldOf(t), markerOf(t))
    if (fs.exists(marker)) {
      // marker ⇒ staging finished writing; promote it if that didn't happen
      if (fs.exists(staging)) {
        if (fs.exists(t)) renameOrDie(fs, t, old)
        renameOrDie(fs, staging, t)
      }
      fs.delete(old, true)
      fs.delete(marker, false)
    } else {
      // no marker: any staging dir is an incomplete write; any .old dir is
      // post-promotion debris — both are safe to drop
      if (fs.exists(staging)) fs.delete(staging, true)
      if (fs.exists(old)) fs.delete(old, true)
    }
  }

  /** Atomically replace a GROUP of state tables in one swap: each
    * `(name, df)` is staged as `<root>.staging/<name>`, then the whole
    * root directory promotes with the same marker protocol as [[swap]].
    * Either every table advances or none does — the primitive a
    * multi-table per-batch commit needs (a marker row carried inside one
    * of the tables is then provably in sync with ALL of them; three
    * independent [[swap]]s would leave a crash window where the marker
    * says "applied" but a later table's merge was lost).
    *
    * The staged writes may read the CURRENT tables under `root` (the
    * usual state-merge shape): the root is not touched until every
    * staging write has finished.
    */
  def swapAll(root: String, tables: Seq[(String, DataFrame)]): Unit = {
    require(tables.nonEmpty, "swapAll needs at least one table")
    swapStaged(tables.head._2.sparkSession, root) { staging =>
      tables.foreach { case (name, df) =>
        df.write.mode(SaveMode.Overwrite).parquet(new Path(staging, name).toString)
      }
    }
  }

  /** Generalized staged swap, the one protocol every other entry point
    * runs: the caller populates the staging directory however it likes
    * (Spark writes, raw file copies, a mix), then `root` promotes under
    * the marker protocol above. This is the primitive for maintenance
    * jobs that REWRITE part of a state root and CARRY OVER the rest
    * byte-for-byte (e.g. [[SimilaritySearch.rebalanceIvfIndex]] copying
    * unchanged IVF cell directories instead of re-encoding them): the
    * staged content may read or copy from the CURRENT root, which is
    * untouched until `stage` returns.
    */
  def swapStaged(spark: SparkSession, root: String)(stage: String => Unit): Unit = {
    val fs = fileSystem(spark, root)
    val t = new Path(root)
    recover(spark, root) // finish any prior in-flight swap, drop marker-less staging
    stage(stagingOf(t).toString)
    if (!fs.exists(stagingOf(t))) sys.error(s"StateSwap: nothing staged for $root")
    fs.create(markerOf(t), true).close()
    recover(spark, root) // steps 3-5: the marker makes recovery promote the staging dir
  }

  /** Recover-then-read for one table of a [[swapAll]] group: recovery
    * happens at ROOT level (the atomic unit), then the named table is
    * read if the group exists.
    */
  def readTableOrElse(spark: SparkSession, root: String, name: String,
                      default: => DataFrame): DataFrame =
    readAfterRecover(spark, root, new Path(root, name).toString, default)

  /** Recover-then-read: the one way state tables should be loaded. */
  def readOrElse(spark: SparkSession, target: String,
                 default: => DataFrame): DataFrame =
    readAfterRecover(spark, target, target, default)

  private def readAfterRecover(spark: SparkSession, root: String, table: String,
                               default: => DataFrame): DataFrame = {
    recover(spark, root)
    if (fileSystem(spark, table).exists(new Path(table))) spark.read.parquet(table)
    else default
  }

  /** Recover-then-read every named table of a [[swapAll]] group, or None
    * when the group has never been written. Existence is checked AFTER
    * recovery, so a crash between the two renames (no `root`, only
    * `root.old` + `root.staging` + marker) reads the new generation.
    */
  def readGroup(spark: SparkSession, root: String, names: String*): Option[Seq[DataFrame]] = {
    recover(spark, root)
    if (!fileSystem(spark, root).exists(new Path(root))) None
    else Some(names.map(n => spark.read.parquet(new Path(root, n).toString)))
  }

  /** The roots under `parent` by name, each with whether it is committed:
    * a root whose own directory exists is; one present only through its
    * side entries (`.staging`, `.swap`, `.old` — a swap killed before its
    * promotion) is not. Empty when `parent` does not exist.
    */
  def roots(spark: SparkSession, parent: String): Map[String, Boolean] = {
    val fs = fileSystem(spark, parent)
    val dir = new Path(parent)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .groupBy(n => Seq(Staging, Old, Marker).find(n.endsWith).fold(n)(n.stripSuffix))
      .map { case (root, names) => root -> names.contains(root) }
  }

  /** Delete `root` with its side entries, the marker first, so a drop
    * killed halfway never leaves a marked staging dir to promote.
    */
  def drop(spark: SparkSession, root: String): Unit = {
    val fs = fileSystem(spark, root)
    val t = new Path(root)
    Seq(markerOf(t), stagingOf(t), t, oldOf(t)).foreach(fs.delete(_, true))
  }
}
