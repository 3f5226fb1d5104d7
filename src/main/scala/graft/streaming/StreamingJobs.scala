package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.core.Histogram

/** Structured Streaming rebuild of the reference's incremental modes
  * (SURVEY §2.10):
  *
  *  - the 10-second scan→process→delete loop over the auth table
  *    (`HogzillaContinuous.scala:53-58`) becomes a checkpointed streaming
  *    source + `foreachBatch` — exactly-once instead of read-then-delete;
  *  - the per-record learn-then-alert profile update
  *    (`HogAuth.scala:348-432`) becomes `flatMapGroupsWithState` with the
  *    core [[graft.core.Histogram]] as the state type;
  *  - the DStream word-count skeleton (`HogzillaStream.scala:56-63`)
  *    becomes `readStream` → `groupBy(window(...))` aggregation.
  *
  * Each transform is a pure `DataFrame → DataFrame` so the same code runs
  * on a batch frame (testing, backfill) and a streaming frame.
  */
object StreamingJobs {

  case class EventRow(user_id: Long, event_id: Long, event_type: String, ts_ms: Long)
  case class Alert(user_id: Long, event_id: Long, event_type: String)

  /** The events table as a streaming source (file source; at scale this is
    * a date-partitioned directory and the source tails new partitions).
    * Same nanos→micros reconstruction as the batch Catalog reader.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a directory; the fixture is a single file, so
    // stage a symlink directory next to it (cheap, idempotent)
    val streamDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_events_stream_" + dir.hashCode.toHexString)
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(s"$dir/events.parquet"))
    val raw = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(streamDir.toString)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) fixture
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Any fixture table as a streaming source (same symlink-directory
    * staging as [[eventsStream]], minus events' nanos-ts handling).
    */
  def tableStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$table.parquet").schema
    val streamDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_${table}_stream_" + dir.hashCode.toHexString)
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve(s"$table.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(s"$dir/$table.parquet"))
    // the table path may be a single parquet FILE (driver fixtures) or a
    // Spark-written DIRECTORY of part files (generated fixtures); the
    // file stream source doesn't descend into subdirectories by default,
    // so recurse and glob to the data files in either layout
    spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(streamDir.toString)
  }

  /** The documents table as a streaming source. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "documents")

  /** The megabucket-capped corpus band index: `(match_id, band, sig)` with
    * degenerate buckets (> maxBucket members) dropped. Apply this ONCE at
    * index-build time and persist the result — a stream-static join
    * re-evaluates the static plan every trigger, so a guard left inline
    * (as a window over the full index) would re-shuffle the whole corpus
    * per micro-batch. CurateStreamApp goes further and sizes only the
    * buckets each micro-batch touches ([[graft.operators.Buckets.lookup]]);
    * for a one-shot build the groupBy is the same O(index) cost paid once.
    */
  def guardedBandIndex(corpusBands: DataFrame, maxBucket: Int = 10000): DataFrame = {
    corpusBands
      .join(graft.operators.Buckets.hot(corpusBands, Seq("band", "sig"), maxBucket),
        Seq("band", "sig"), "left_anti")
      .select(col("doc_id").as("match_id"), col("band"), col("sig"))
  }

  /** ST7: stream-static near-dup candidate lookup — each incoming
    * document computes its LSH band signatures ROW-LOCALLY
    * (Dedup.lshBands: one codegen MinhashSig kernel per row, no
    * stream-side shuffle) and equi-joins the static corpus band index on
    * (band, sig). Stateless per micro-batch: no watermark, no state
    * store — the streaming form of "which known docs is this new doc a
    * near-dup of", which is how a continuously-ingesting corpus screens
    * arrivals against a 100 TB reference index.
    *
    * The index must already be guarded ([[guardedBandIndex]]: an
    * incoming doc landing in a megabucket would otherwise fan out to the
    * bucket's whole membership in one batch) and, in production, read
    * back from a persisted (band, sig)-clustered table — see
    * `st7_stream_neardup`, which builds exactly that layout. Emits one
    * row per shared band; canonicalize + distinct downstream (distinct
    * here would force unbounded streaming state).
    */
  def streamNearDupAgainstIndex(docsStream: DataFrame,
      guardedIndex: DataFrame): DataFrame =
    graft.operators.Dedup.lshBands(docsStream)
      .join(guardedIndex, Seq("band", "sig"))
      .filter(col("doc_id") =!= col("match_id"))
      .select(col("doc_id"), col("match_id"), col("band"))

  /** T3/T5: tumbling-window per-type counts. Runs identically on batch and
    * stream inputs; on a stream, pair with a watermark for state eviction.
    */
  def windowedTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("value_sum"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("value_sum"))

  /** Streaming exact dedup: first occurrence per key wins, watermark
    * bounds the dedup state (keys older than the delay are evicted — the
    * at-scale requirement; unbounded dropDuplicates state would OOM on an
    * infinite stream). Project the key columns BEFORE deduplicating so
    * the emitted rows are deterministic (which physical row arrives first
    * per key is racy; the key itself is not).
    */
  def streamDedup(events: DataFrame, keyCols: Seq[String], delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .select((keyCols.map(col) :+ col("ts")): _*)
      .dropDuplicates(keyCols)
      .select(keyCols.map(col): _*)

  /** Session windows per user: events closer than `gap` chain into one
    * session (dynamic-length windows — beyond the reference's tumbling-
    * only surface). Works identically on batch and streaming input;
    * streaming requires a watermark for session closure.
    */
  def sessionCounts(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("value_sum"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("n"), col("value_sum"))

  /** Stream-stream interval join: purchases join the same user's clicks
    * from the preceding hour. Both sides carry watermarks — that is what
    * lets the join STATE be evicted (a click older than the watermark can
    * never match a future purchase, so it's dropped); without them the
    * buffered sides grow forever. The time-interval condition also bounds
    * how long each row waits — the canonical streaming-join shape.
    */
  def purchaseClickJoin(events: DataFrame, window: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", window)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      .withWatermark("cts", window)
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr(s"INTERVAL $window"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_millis(col("pts")).as("pts_ms"), unix_millis(col("cts")).as("cts_ms"))
  }

  /** T2: per-user learn-then-alert (the reference's HIST20-22 auth
    * profiling): the first `minObs` observations only learn; after that an
    * event type never seen before for this user raises an alert (and is
    * then learned). State is the core Histogram — the same profile type
    * the batch ProfileStore persists.
    *
    * Events inside a group are processed in (ts, event_id) order so
    * results are deterministic regardless of shuffle arrival order.
    */
  def learnThenAlert(events: Dataset[EventRow], minObs: Int,
      maxBatchPerKey: Int = 1000000)(
      implicit spark: SparkSession): Dataset[Alert] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Histogram, Alert](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId: Long, rows: Iterator[EventRow], state: GroupState[Histogram]) =>
          var h = state.getOption.getOrElse(Histogram(s"HIST20-$userId", 0L, Map.empty))
          val alerts = Seq.newBuilder[Alert]
          // the in-order replay buffers the group: bound it so a hot key
          // fails with an actionable message instead of silently OOMing
          // the task (shorten the trigger interval or raise the bound)
          val buf = rows.take(maxBatchPerKey + 1).toSeq
          require(buf.size <= maxBatchPerKey,
            s"learnThenAlert: key $userId exceeded $maxBatchPerKey events in one micro-batch")
          buf.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
            if (h.size >= minObs && !h.buckets.contains(e.event_type))
              alerts += Alert(userId, e.event_id, e.event_type)
            h = Histogram(h.name, h.size + 1,
              h.buckets.updated(e.event_type, h.buckets.getOrElse(e.event_type, 0.0) + 1.0))
          }
          state.update(h)
          alerts.result().iterator
      }
  }

  case class ItemEvent(group: String, item: String, ts_ms: Long, event_id: Long)
  case class HeavyHitter(group: String, item: String, cnt: Long)

  /** Streaming heavy hitters per key: the space-saving algorithm as
    * `flatMapGroupsWithState` state — at most `capacity` counters per
    * group ever exist, whatever the item cardinality, which is the
    * at-scale requirement an exact per-key count map can't meet. When a
    * new item arrives at a full table it replaces the minimum counter and
    * inherits its count (the classic overestimate-bounded scheme); with
    * distinct items ≤ capacity the counts are exact.
    *
    * Each micro-batch emits the group's full counter table (downstream
    * takes the latest emission per group; Append mode keeps the memory-
    * sink drain oracle-checkable). Rows are replayed in (ts_ms, event_id)
    * order inside the group so eviction choices — and therefore results —
    * are deterministic under parallel arrival; ties among minimum
    * counters evict the lexicographically smallest item.
    */
  def streamingHeavyHitters(events: Dataset[ItemEvent], capacity: Int,
      maxBatchPerKey: Int = 1000000)(
      implicit spark: SparkSession): Dataset[HeavyHitter] = {
    import spark.implicits._
    events.groupByKey(_.group)
      .flatMapGroupsWithState[Map[String, Long], HeavyHitter](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (group: String, rows: Iterator[ItemEvent], state: GroupState[Map[String, Long]]) =>
          var counters = state.getOption.getOrElse(Map.empty[String, Long])
          val buf = rows.take(maxBatchPerKey + 1).toSeq
          require(buf.size <= maxBatchPerKey,
            s"streamingHeavyHitters: key $group exceeded $maxBatchPerKey events in one micro-batch")
          buf.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
            counters = counters.get(e.item) match {
              case Some(c) => counters.updated(e.item, c + 1)
              case None if counters.size < capacity => counters.updated(e.item, 1L)
              case None =>
                val (evict, minC) = counters.minBy { case (i, c) => (c, i) }
                counters - evict + (e.item -> (minC + 1))
            }
          }
          state.update(counters)
          counters.iterator.map { case (i, c) => HeavyHitter(group, i, c) }
      }
  }

  /** S8/T1: micro-batch consume — the checkpointed replacement for the
    * reference's read-then-delete queue. `handler` sees each micro-batch
    * exactly once (e.g. ProfileStore.update + alert append) — but ONLY
    * when `checkpointDir` is set: without a checkpoint the source replays
    * everything after a restart. Production callers (GraftContinuousApp)
    * must pass one; tests over in-memory sources may omit it.
    */
  def consumeMicroBatches(stream: DataFrame, intervalSecs: Int,
      checkpointDir: Option[String] = None)(
      handler: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(s"$intervalSecs seconds"))
      .foreachBatch(handler)
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Streaming CDC upsert: fold each micro-batch of an insert/update/
    * delete changelog onto a durable keyed post-image table — the
    * continuous form of [[graft.operators.Scd.cdcApply]], i.e. MERGE INTO
    * fed by a binlog stream. Within a micro-batch the last writer by
    * (`tsCol`, `orderCols`) wins; across batches, arrival order is
    * authoritative (a later batch's change overrides state no matter its
    * timestamp — queue semantics, matching the reference's
    * consume-in-arrival-order contract).
    *
    * State is replaced via [[graft.operators.StateSwap]] (stage-then-swap
    * on the Hadoop FS API: crash-safe, HDFS/S3-capable); pass
    * `checkpointDir` so a restart resumes from committed offsets instead
    * of re-folding history. Per batch the cost is one window pass over
    * the (small) batch plus a key-join against current state — no per-row
    * point writes, the same join+overwrite shape the batch entry points
    * use.
    */
  def cdcUpsertMicroBatches(changes: DataFrame, stateDir: String,
      keyCols: Seq[String], opCol: String, tsCol: String,
      attrCols: Seq[String], orderCols: Seq[String] = Nil,
      intervalSecs: Int = 10, checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Scd, StateSwap}
    val stateCols = keyCols ++ attrCols
    consumeMicroBatches(changes, intervalSecs, checkpointDir) { (batch, _) =>
      val s = batch.sparkSession
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(stateCols.map(batch.schema(_))))
      val base = StateSwap.readOrElse(s, stateDir, empty)
      StateSwap.swap(
        Scd.cdcApply(base, batch, keyCols, opCol, tsCol, attrCols, orderCols),
        stateDir)
    }
  }

  /** Drain a streaming DataFrame through a memory sink with
    * Trigger.AvailableNow (process everything currently in the source,
    * then stop) and return the result table — turns a streaming pipeline
    * into an oracle-checkable batch result.
    */
  def runToTable(spark: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    val name = "sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // Stateful streaming runs one state-store instance per shuffle
    // partition, and every micro-batch pays a per-store commit — size the
    // partition count to the STATE volume, not the session default (the
    // query pins the conf at start, so restoring it right after doesn't
    // affect the running stream). At cluster scale this knob is exactly
    // what you'd tune per stateful query.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try {
        df.writeStream
          .format("memory").queryName(name)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    spark.table(name)
  }
}
