package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HistogramFunctions._

/** Read-modify-write profile state (the reference's HIST* tables), and the
  * one place where a detector meets its profile.
  *
  * The reference fetches and upserts one HBase row per aggregation key from
  * inside `foreach` (HogHBaseHistogram.scala:75-136 — an RPC per key).
  * Batch-idiomatic rewrite (SURVEY §7.4): one full-outer equi-join of the
  * batch histograms against the state table, merge in columns, atomically
  * overwrite the state path. At 100 TB the state table is bucketed by
  * `name` so this join is shuffle-free on the state side. [[update]],
  * [[updateMax]] and [[snapshot]] are that join with three merge rules.
  *
  * The detect side is [[mature]]: the profiles at or past their cold-start
  * threshold, which a detector joins to its current-window frame and
  * compares bucket by bucket. A profile below the threshold learns only.
  * [[atypicalAlerts]] is the plainest such comparison.
  *
  * Schema of both sides: (name string, size long, buckets map<string,double>).
  */
object ProfileStore {

  /** The profiles a detector compares against (the reference's
    * histSize<10/30/100/1000 learn-only gates, HogSFlow.scala:1500,1638;
    * HogAuth.scala:349): the rows with `size >= minObs`, as (`key`,
    * `profile`), where `profile` is the bucket map and `key` renames
    * `name` to the key of the frame they are joined to.
    */
  def mature(state: DataFrame, minObs: Long, key: String = "name"): DataFrame =
    state.filter(col("size") >= minObs).select(col("name").as(key), col("buckets").as("profile"))

  /** Learn-then-alert: one row (`key`, bucket) per bucket of the batch
    * histogram (keyed by `key`) that its [[mature]] profile has never seen.
    */
  def atypicalAlerts(state: DataFrame, batch: DataFrame, minObs: Long,
      key: String = "name"): DataFrame =
    batch.join(mature(state, minObs, key), Seq(key))
      .select(col(key), explode(atypicalKeys(col("profile"), col("buckets"))).as("bucket"))

  /** The full-outer join of the state (`s1`, `b1`) and the batch (`s2`,
    * `b2`) by `name`, with the merged `size` and `buckets` columns.
    */
  private def merged(state: DataFrame, batch: DataFrame)(size: Column, buckets: Column)
      : DataFrame = {
    val st = state.select(col("name"), col("size").as("s1"), col("buckets").as("b1"))
    val ba = batch.select(col("name"), col("size").as("s2"), col("buckets").as("b2"))
    st.join(ba, Seq("name"), "full_outer")
      .select(col("name"), size.as("size"), buckets.as("buckets"))
  }

  private val (s1, b1, s2, b2) = (col("s1"), col("b1"), col("s2"), col("b2"))

  /** `stateOnly` for a key only the state has, `batchOnly` for a key
    * only the batch has, else `both`.
    */
  private def bySide(stateOnly: Column, batchOnly: Column, both: Column): Column =
    when(s1.isNull, batchOnly).when(s2.isNull, stateOnly).otherwise(both)

  /** Merge a batch of freshly-built histograms into the saved profiles.
    * New keys pass through; existing keys get the decayed weighted merge.
    */
  def update(state: DataFrame, batch: DataFrame): DataFrame =
    merged(state, batch)(
      bySide(s1, s2, mergedSize(s1, s2)), bySide(b1, b2, mergeBuckets(s1, b1, s2, b2)))

  /** Bucket-wise-max merge of count-valued profiles (the reference's
    * Histograms.mergeMax, Histograms.scala:141-168 — HIST07 max-flows-per-
    * port): size = s1+s2, each bucket keeps the larger observed value.
    * New keys pass through unchanged.
    */
  def updateMax(state: DataFrame, batch: DataFrame): DataFrame =
    merged(state, batch)(
      coalesce(s1, lit(0L)) + coalesce(s2, lit(0L)),
      when(b1.isNull, b2).when(b2.isNull, b1).otherwise(mergeMaxBuckets(b1, b2)))

  /** Last-window snapshot overwrite (the reference's HIST02.1,
    * HogSFlow.scala:1722: `saveHistogram(new HogHistogram("HIST02.1-"+ip,
    * n, hist))`): keys seen this window REPLACE their snapshot; unseen
    * keys keep the previous one.
    */
  def snapshot(state: DataFrame, batch: DataFrame): DataFrame =
    merged(state, batch)(coalesce(s2, s1), coalesce(b2, b1))

  /** Insert-if-absent upsert (S7: the reference's signature sink,
    * HogSignature.scala:35-52 — a Get-then-Put that never overwrites an
    * existing row): keys already in the state keep their exact row, only
    * genuinely new keys are appended. Generic over schema — both sides
    * just need `keyCols`. One left_anti join, broadcastable when the
    * update batch is small (signatures: a handful per run).
    */
  def insertIfAbsent(state: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame =
    state.unionByName(
      updates.dropDuplicates(keyCols).join(state, keyCols, "left_anti"))

  /** Last-write-wins upsert (S7: the reference's inventory/sensor sinks,
    * HogHBaseInventory.scala:40-49, HogInitiate.scala:35-48 — an HBase Put
    * overwrites cells in place): update rows replace state rows with the
    * same key; unmatched state survives. Re-running the same batch is a
    * no-op — the idempotence the reference gets from HBase row identity.
    *
    * Contract: the update batch should carry one row per key. If it
    * doesn't, `dropDuplicates` keeps an arbitrary one (exactly as
    * concurrent HBase Puts race on timestamp) — resolve conflicts
    * upstream (e.g. a window over an ordering column) when the winner
    * matters.
    */
  def upsert(state: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame =
    updates.dropDuplicates(keyCols)
      .unionByName(state.join(updates, keyCols, "left_anti"))
}
