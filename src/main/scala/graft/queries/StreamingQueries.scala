package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.EventRow

/** SURVEY §2.10 — streaming semantics, made oracle-checkable by draining
  * real streaming queries (file source → Trigger.AvailableNow → memory
  * sink) and hash-comparing the drained table against DuckDB computing the
  * same result relationally. The plumbing (readStream, stateful
  * flatMapGroupsWithState, output modes) is the genuine streaming path.
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ST1 (T3/T5/S9): tumbling-window aggregation on a stream, complete
    // output mode (all windows emitted when the source drains).
    "st1_stream_window" -> ((s, dir) => {
      val stream = StreamingJobs.eventsStream(s, dir)
      StreamingJobs.runToTable(s, StreamingJobs.windowedTypeCounts(stream), OutputMode.Complete)
        .orderBy(col("window_start_ms"), col("event_type"))
    }),

    // ST2 (T2/S8): stateful learn-then-alert keyed by user — the
    // reference's cold-start gate (first 10 observations learn-only,
    // HogAuth.scala:349) then alert on never-seen event types.
    "st2_stateful_alerts" -> ((s, dir) => {
      import s.implicits._
      val stream = StreamingJobs.eventsStream(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
        .as[EventRow]
      StreamingJobs.runToTable(s, StreamingJobs.learnThenAlert(stream, 10)(s).toDF(),
        OutputMode.Append)
        .orderBy(col("user_id"), col("event_id"))
    }),
    // ST3: streaming exact dedup — watermark-bounded state, first
    // occurrence per (user, type) key; key-only projection keeps the
    // emitted rows deterministic under parallel arrival.
    "st3_stream_dedup" -> ((s, dir) => {
      val stream = StreamingJobs.eventsStream(s, dir)
      StreamingJobs.runToTable(s,
          StreamingJobs.streamDedup(stream, Seq("user_id", "event_type"), "1 hour"),
          OutputMode.Append)
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ST4: session windows (30-min gap) — dynamic-length windows beyond
    // the reference's tumbling-only surface; same code runs on batch and
    // stream inputs (batch here so the oracle is exact).
    "st4_session_window" -> ((s, dir) => {
      StreamingJobs.sessionCounts(graft.sources.Catalog.events(s, dir), "30 minutes")
        .orderBy(col("user_id"), col("session_start_ms"))
    }),

    // ST6: streaming heavy hitters — space-saving counters (bounded
    // per-key state whatever the item cardinality) via
    // flatMapGroupsWithState; capacity 128 ≥ the ~100 distinct props
    // values here, so counts are exact and the DuckDB oracle can check
    // them (capacity-bound eviction semantics are spec-tested).
    "st6_stream_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val stream = StreamingJobs.eventsStream(s, dir)
        .select(col("event_type").as("group"),
          regexp_extract(col("props"), "[0-9]+", 0).as("item"),
          unix_millis(col("ts")).as("ts_ms"), col("event_id"))
        .as[StreamingJobs.ItemEvent]
      val drained = StreamingJobs.runToTable(s,
        StreamingJobs.streamingHeavyHitters(stream, capacity = 128)(s).toDF(),
        OutputMode.Append)
      // latest emission per (group, item) — counts only grow across
      // micro-batches, so max = final
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("group")).orderBy(col("cnt").desc, col("item").asc)
      drained.groupBy(col("group"), col("item")).agg(max(col("cnt")).as("cnt"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .orderBy(col("group"), col("rk"))
    }),

    // ST5: stream-stream interval join — purchases ⋈ the same user's
    // clicks within the preceding hour; watermarks on BOTH sides bound
    // the join state (the genuine two-stream join path).
    "st5_stream_join" -> ((s, dir) => {
      val stream = StreamingJobs.eventsStream(s, dir)
      StreamingJobs.runToTable(s, StreamingJobs.purchaseClickJoin(stream), OutputMode.Append)
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // ST7: stream-static near-dup screening — incoming docs (streamed)
    // LSH-banded row-locally and joined against the static corpus band
    // index; canonical pair + distinct applied on the materialized
    // result (batch land), where they're cheap and stateless.
    "st7_stream_neardup" -> ((s, dir) => {
      // the static index is a PERSISTED table, exactly the production
      // layout CurateStreamApp maintains incrementally: guarded once at
      // build time (megabucket cap applied before the write, so no
      // per-trigger window over the corpus) and clustered on the join
      // key (band, sig). Each micro-batch then pays only a parquet scan
      // + hash join — no recompute, no session-lifetime cache.
      val idxDir = ScratchDirs.create("st7_bands_") + "/bands"
      StreamingJobs.guardedBandIndex(graft.operators.Dedup.lshBands(
          graft.sources.Catalog.documents(s, dir)))
        .repartition(col("band"), col("sig"))
        .write.mode("overwrite").parquet(idxDir)
      val corpusIndex = s.read.parquet(idxDir)
      val stream = StreamingJobs.documentsStream(s, dir)
      val drained = StreamingJobs.runToTable(s,
        StreamingJobs.streamNearDupAgainstIndex(stream, corpusIndex), OutputMode.Append)
      drained
        .select(least(col("doc_id"), col("match_id")).as("doc1"),
          greatest(col("doc_id"), col("match_id")).as("doc2"))
        .distinct()
        .orderBy(col("doc1"), col("doc2"))
    }),

    // ST8: streaming CDC upsert — the orders changelog (same I/U/D
    // derivation as e4_cdc_apply) streamed through
    // cdcUpsertMicroBatches into a crash-safe post-image state table,
    // then read back. Proves the MERGE INTO path end-to-end under the
    // micro-batch machinery; the oracle is the changelog fold from an
    // empty base.
    "st8_stream_cdc" -> ((s, dir) => {
      val changes = StreamingJobs.tableStream(s, dir, "orders").select(
        col("o_custkey").as("custkey"),
        when(col("o_orderkey") % 37 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("o_orderdate").as("ts"),
        col("o_orderkey").as("seq"),
        col("o_totalprice").as("acctbal"))
      val stateDir = ScratchDirs.create("st8_cdc_") + "/state"
      val q = StreamingJobs.cdcUpsertMicroBatches(changes, stateDir,
        Seq("custkey"), "op", "ts", Seq("acctbal"), orderCols = Seq("seq"),
        intervalSecs = 1)
      q.processAllAvailable()
      q.stop()
      s.read.parquet(stateDir)
        .withColumn("acctbal", round(col("acctbal"), 2))
        .orderBy(col("custkey"))
    }),
  )

  val oracles: Map[String, String] = Map(
    // fold of the I/U/D changelog from an empty base: last writer per
    // custkey wins, deletes drop the key
    "st8_stream_cdc" ->
      """WITH ch AS (
        |  SELECT o_custkey AS custkey,
        |    CASE WHEN o_orderkey % 37 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_orderdate AS ts, o_orderkey AS seq, o_totalprice AS acctbal
        |  FROM orders),
        |last AS (
        |  SELECT custkey, op, acctbal FROM ch
        |  QUALIFY row_number() OVER (
        |    PARTITION BY custkey ORDER BY ts DESC, seq DESC) = 1)
        |SELECT custkey, ROUND(acctbal, 2) AS acctbal FROM last
        |WHERE op <> 'D' ORDER BY custkey""".stripMargin,

    // streaming the whole corpus past its own band index yields exactly
    // the batch LSH candidate pairs (canonical, deduped across bands)
    "st7_stream_neardup" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${PipelineQueries.shinglesSql(PipelineQueries.toksSql)} AS sh
        |  FROM documents),
        |${PipelineQueries.bandsSql},
        |sized AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY b, sig) AS bsz FROM bands)
        |SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
        |FROM sized x JOIN sized y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id
        |WHERE x.bsz <= 10000
        |ORDER BY doc1, doc2""".stripMargin,
    "st6_stream_heavy_hitters" ->
      """WITH c AS (
        |  SELECT event_type AS "group", regexp_extract(props, '[0-9]+', 0) AS item,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY "group" ORDER BY cnt DESC, item) AS INT) AS rk
        |  FROM c)
        |SELECT "group", item, cnt, rk FROM r WHERE rk <= 10
        |ORDER BY "group", rk""".stripMargin,

    "st5_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |  epoch_ms(p.ts::TIMESTAMP) AS pts_ms, epoch_ms(c.ts::TIMESTAMP) AS cts_ms
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts::TIMESTAMP <= p.ts::TIMESTAMP
        |  AND c.ts::TIMESTAMP >= p.ts::TIMESTAMP - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,

    "st3_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "st4_session_window" ->
      """WITH e AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, value FROM events),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM m)
        |SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
        |  COUNT(*) AS n, ROUND(SUM(value), 6) AS value_sum
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "st1_stream_window" ->
      """SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms,
        |  event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS value_sum
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start_ms, event_type""".stripMargin,

    "st2_stateful_alerts" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |f AS (
        |  SELECT *, MIN(rn) OVER (PARTITION BY user_id, event_type) AS first_rn FROM r)
        |SELECT user_id, event_id, event_type
        |FROM f WHERE rn > 10 AND rn = first_rn
        |ORDER BY user_id, event_id""".stripMargin,
  )
}
