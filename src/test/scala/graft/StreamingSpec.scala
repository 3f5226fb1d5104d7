package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ScratchDirs
import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{Alert, EventRow}

/** Streaming semantics on controlled in-memory sources: incremental
  * arrival across micro-batches, state persistence between batches, and
  * the foreachBatch consume pattern.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("learnThenAlert keeps state across micro-batches") {
    import spark.implicits._
    implicit val s = spark
    val source = MemoryStream[EventRow](spark, 1)
    // batch 1: 10 observations of type A (learn-only, no alerts)
    source.addData((1L to 10L).map(i => EventRow(7L, i, "A", i * 1000)): _*)
    val sink = "alerts_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingJobs.learnThenAlert(source.toDS(), 10).toDF()
      .writeStream.format("memory").queryName(sink).outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    assert(spark.table(sink).count() == 0) // cold start: learn only
    // batch 2: known type A → silent; novel type B → alert (state carried over)
    source.addData(EventRow(7L, 11L, "A", 11000), EventRow(7L, 12L, "B", 12000))
    q.processAllAvailable()
    val alerts = spark.table(sink).as[Alert].collect()
    assert(alerts.toSeq == Seq(Alert(7L, 12L, "B")))
    // batch 3: B is now learned → no further alert for B
    source.addData(EventRow(7L, 13L, "B", 13000))
    q.processAllAvailable()
    assert(spark.table(sink).count() == 1)
    q.stop()
  }

  test("streamingHeavyHitters: bounded counters, min-eviction, cross-batch state") {
    import spark.implicits._
    implicit val s = spark
    import StreamingJobs.{HeavyHitter, ItemEvent}
    val source = MemoryStream[ItemEvent](spark, 11)
    val sink = "hh_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamingJobs.streamingHeavyHitters(source.toDS(), capacity = 2).toDF()
      .writeStream.format("memory").queryName(sink).outputMode(OutputMode.Append).start()
    // batch 1: a a b — table holds {a:2, b:1} (capacity 2, both fit)
    source.addData(
      ItemEvent("g", "a", 1, 1), ItemEvent("g", "a", 2, 2), ItemEvent("g", "b", 3, 3))
    q.processAllAvailable()
    def latest(): Map[String, Long] = {
      val rows = spark.table(sink).as[HeavyHitter].collect()
      // counts only grow; max per item = the latest emission
      rows.groupBy(_.item).view.mapValues(_.map(_.cnt).max).toMap
    }
    assert(latest() == Map("a" -> 2L, "b" -> 1L))
    // batch 2: c arrives at a full table → evicts the min counter (b, 1)
    // and inherits its count + 1 = 2 (the space-saving overestimate)
    source.addData(ItemEvent("g", "c", 4, 4))
    q.processAllAvailable()
    val after = latest()
    assert(after("a") == 2L && after("c") == 2L)
    // the live state kept only 2 counters: the latest emission has no b
    val lastBatch = spark.table(sink).as[HeavyHitter].collect()
      .groupBy(_.item).view.mapValues(_.map(_.cnt).max).toMap
    assert(!lastBatch.contains("b") || lastBatch("b") == 1L) // b only from batch 1
    q.stop()
  }

  test("windowedTypeCounts over a stream matches the batch computation") {
    import spark.implicits._
    val source = MemoryStream[(java.sql.Timestamp, String, Double)](spark, 2)
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2026-01-01 10:15:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2026-01-01 10:45:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2026-01-01 11:05:00"), "view", 3.0))
    source.addData(rows: _*)
    val stream = source.toDF().toDF("ts", "event_type", "value")
    val out = StreamingJobs.runToTable(spark,
      StreamingJobs.windowedTypeCounts(stream), OutputMode.Complete)
    val got = out.orderBy("window_start_ms").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = StreamingJobs.windowedTypeCounts(rows.toDF("ts", "event_type", "value"))
      .orderBy("window_start_ms").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == batch.toSeq)
    assert(got.length == 2 && got(0)._3 == 2L) // two clicks in the 10:00 window
  }

  test("consumeMicroBatches sees each batch exactly once (queue semantics)") {
    import spark.implicits._
    val source = MemoryStream[(Long, String)](spark, 3)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (batchId, rows)
    val q = StreamingJobs.consumeMicroBatches(source.toDF().toDF("id", "v"), 1) {
      (batch, id) => seen.synchronized { seen += ((id, batch.count())) }
    }
    source.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    source.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val counts = seen.synchronized(seen.filter(_._2 > 0).map(_._2).toSeq)
    assert(counts == Seq(2L, 1L)) // each record consumed exactly once
  }

  test("cdcUpsertMicroBatches folds a changelog stream into durable post-image state") {
    import spark.implicits._
    val dir = ScratchDirs.create("cdc_state_") + "/state"
    val source = MemoryStream[(Long, String, java.sql.Timestamp, Long, String)](spark, 41)
    val stream = source.toDF().toDF("k", "op", "ts", "seq", "v")
    val q = StreamingJobs.cdcUpsertMicroBatches(stream, dir,
      Seq("k"), "op", "ts", Seq("v"), orderCols = Seq("seq"), intervalSecs = 1)
    def t(m: Int) = new java.sql.Timestamp(m * 60000L)
    // batch 1: two inserts; within-batch last-writer on key 1 (seq tiebreak)
    source.addData((1L, "U", t(0), 1L, "a"), (1L, "U", t(0), 2L, "a2"),
      (2L, "U", t(0), 3L, "b"))
    q.processAllAvailable()
    val afterB1 = spark.read.parquet(dir).as[(Long, String)].collect().toMap
    assert(afterB1 == Map(1L -> "a2", 2L -> "b"))
    // batch 2: delete key 1 (with an EARLIER ts — arrival order wins
    // across batches), update key 2, insert key 3
    source.addData((1L, "D", t(-5), 4L, null), (2L, "U", t(1), 5L, "b2"),
      (3L, "U", t(1), 6L, "c"))
    q.processAllAvailable()
    q.stop()
    val finalState = spark.read.parquet(dir).as[(Long, String)].collect().toMap
    assert(finalState == Map(2L -> "b2", 3L -> "c"))
  }

  test("the full detector DAG runs per micro-batch with profile feedback between batches") {
    import spark.implicits._
    import graft.detectors.HogzillaBatch
    val myNets = Seq("10.0.")
    // 5-port probe + benign background, identical in both batches
    val rows =
      (1 to 5).map(i => ("10.0.0.7", "99.9.9.9", "41000", (20 + i).toString, "6", 60L, 1L, "0x02", 50L + i)) ++
      (1 to 5).map(i => ("10.0.0.100", "93.1.1." + i, "50000", "443", "6", 1000L, 10L, "0x18", 1000L + i))
    val source = MemoryStream[(String, String, String, String, String, Long, Long, String, Long)](spark, 6)
    val stream = source.toDF().toDF("srcIP", "dstIP", "srcPort", "dstPort",
      "IPprotocol", "packetSize", "samplingRate", "tcpFlags", "timestamp")
    // the reference's 6-hourly read-then-delete loop as foreachBatch:
    // profiles learned by batch N are the state batch N+1 detects against
    var profiles = HogzillaBatch.emptyProfileTables(spark)
    val perBatch = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (batchId, vPortScan alerts)
    val blacklist = Seq.empty[String].toDF("prefix")
    val osRepos = Seq.empty[(String, String)].toDF("repo_ip", "os")
    val q = StreamingJobs.consumeMicroBatches(stream, 1) { (batch, id) =>
      if (!batch.isEmpty) {
        val (alerts, updated, _, release) = HogzillaBatch.run(spark, batch, myNets, profiles, blacklist, osRepos)
        val n = alerts.filter(col("detector") === "vPortScan").count()
        profiles = HogzillaBatch.ProfileTables(
          updated.hist01.localCheckpoint(), updated.hist02.localCheckpoint(),
          updated.hist02snap.localCheckpoint(), updated.hist03.localCheckpoint(),
          updated.hist04.localCheckpoint(), updated.hist05.localCheckpoint(),
          updated.hist06.localCheckpoint(), updated.hist07.localCheckpoint(),
          updated.hist08.localCheckpoint())
        perBatch.synchronized { perBatch += ((id, n)) }
        release() // profiles are checkpointed; drop the batch's pins
      }
    }
    source.addData(rows: _*)
    q.processAllAvailable()
    source.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = perBatch.synchronized(perBatch.toSeq.sortBy(_._1).map(_._2))
    // cold start learns silently; the second batch detects against the
    // learned HIST08 profile (same burst, still typical → still silent),
    // and the profile table itself advanced between batches
    assert(got == Seq(0L, 0L), s"per-batch vPortScan counts: $got")
    assert(profiles.hist08.filter(col("name") === "10.0.0.7").count() == 1)
  }

  test("watermark evicts state and drops late data (beyond-reference semantics)") {
    import spark.implicits._
    val source = MemoryStream[(java.sql.Timestamp, String, Double)](spark, 5)
    val stream = source.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w"), col("event_type"), col("n"))
    val sink = "wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = stream.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    source.addData((ts("2026-01-01 10:05:00"), "click", 1.0))
    q.processAllAvailable()
    // advance event time far past the 10:00 window + watermark → closes it
    source.addData((ts("2026-01-01 12:30:00"), "view", 1.0))
    q.processAllAvailable()
    // this event is ~2.5h late — behind the watermark → dropped
    source.addData((ts("2026-01-01 10:10:00"), "click", 1.0))
    q.processAllAvailable()
    source.addData((ts("2026-01-01 14:00:00"), "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val w10 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    assert(rows.contains((w10, "click", 1L)), s"10:00 window emitted once closed: $rows")
    assert(!rows.exists { case (w, t, n) => w == w10 && n > 1L },
      "the late event must NOT have been counted")
  }

  test("stream-static near-dup screening matches arrivals against the corpus index") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire every single day"
    val corpus = Seq(
      1L -> base,
      2L -> "completely different content about spark catalyst optimizer rules and physical plans here today",
      3L -> "yet another unrelated document mentioning shuffle partitions broadcast joins and codegen stages now"
    ).toDF("doc_id", "text")
    val corpusBands = graft.operators.Dedup.lshBands(corpus)
    val source = MemoryStream[(Long, String)](spark, 31)
    val stream = source.toDF().toDF("doc_id", "text")
    val sink = "neardup_sink_" + System.nanoTime()
    val q = StreamingJobs.streamNearDupAgainstIndex(stream,
        StreamingJobs.guardedBandIndex(corpusBands))
      .writeStream.format("memory").queryName(sink)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    // batch 1: an unrelated arrival — no candidates
    source.addData(100L -> "totally novel text with no resemblance to anything stored whatsoever in this corpus")
    q.processAllAvailable()
    assert(spark.table(sink).count() == 0)
    // batch 2: a near-dup of corpus doc 1 — matched incrementally
    source.addData(101L -> (base + " postscript"))
    q.processAllAvailable()
    q.stop()
    val matches = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches.nonEmpty && matches.forall(_ == (101L, 1L)),
      s"arrival 101 must match only corpus doc 1: $matches")
  }

  test("word-count stream (the reference's DStream skeleton) on a socket-like source") {
    import spark.implicits._
    val source = MemoryStream[String](spark, 4)
    source.addData("spark streams words", "spark counts words")
    val counts = StreamingJobs.runToTable(spark,
      source.toDF().select(explode(split(col("value"), " ")).as("word"))
        .groupBy("word").count(),
      OutputMode.Complete)
    val m = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("spark" -> 2L, "streams" -> 1L, "counts" -> 1L, "words" -> 2L))
  }
}
