package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventAnalytics, Robust}

class AnalyticsOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(min: Long) = new Timestamp(min * 60000L)

  test("sessionize splits on gaps strictly greater than the threshold") {
    import spark.implicits._
    // user 1: events at 0, 10, 40, 41 min with a 30-min gap threshold —
    // the 10→40 gap (30 min exactly) does NOT split; add 0→31 for user 2
    // which does.
    val events = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(40)), (1L, ts(41)),
      (2L, ts(0)), (2L, ts(31))).toDF("user_id", "ts")
    val out = EventAnalytics.sessionize(events, gapUs = 30L * 60 * 1000000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq((1L, 0L, 4L), (2L, 0L, 1L), (2L, 1L, 1L)))
  }

  test("sessionize is insensitive to equal-timestamp tie order") {
    import spark.implicits._
    val events = Seq((1L, ts(0)), (1L, ts(0)), (1L, ts(100)), (1L, ts(100)))
      .toDF("user_id", "ts")
    val out = EventAnalytics.sessionize(events, gapUs = 30L * 60 * 1000000)
      .collect().map(r => (r.getLong(1), r.getLong(4))).sorted
    assert(out.toSeq == Seq((0L, 2L), (1L, 2L)))
  }

  test("binnedQuantile lands within one bin width of the exact quantile") {
    import spark.implicits._
    val df = (1 to 1000).map(i => ("g", i / 10.0)).toDF("k", "v") // 0.1..100.0
    val est = Robust.binnedQuantile(df, Seq("k"), col("v"), width = 1.0,
        p = 0.95, out = "q").collect().head.getDouble(1)
    val exact = Robust.groupedQuantile(df, Seq("k"), col("v"), 0.95, "q")
      .collect().head.getDouble(1)
    assert(math.abs(est - exact) <= 1.0, s"est=$est exact=$exact")
  }

  test("scd2 collapses no-op changes and closes intervals at the next change") {
    import spark.implicits._
    val log = Seq(
      (1L, ts(0), 10L, "bronze"), (1L, ts(5), 11L, "bronze"), // no-op
      (1L, ts(10), 12L, "gold"), (1L, ts(20), 13L, "bronze"),
      (2L, ts(0), 14L, "gold"))
      .toDF("user_id", "ts", "event_id", "tier")
    val out = graft.operators.Scd.scd2(log, Seq("user_id"), "ts", Seq("tier"),
        orderCols = Seq("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime / 60000, Option(r.getTimestamp(3)).map(_.getTime / 60000),
        r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      (1L, "bronze", 0L, Some(10L), false),
      (1L, "gold", 10L, Some(20L), false),
      (1L, "bronze", 20L, None, true),
      (2L, "gold", 0L, None, true)))
  }

  test("scd2 treats null attribute transitions as real changes (null-safe compare)") {
    import spark.implicits._
    val log = Seq(
      (1L, ts(0), 1L, Option("a")), (1L, ts(10), 2L, None), // a → null: change
      (1L, ts(20), 3L, None), // null → null: no-op
      (1L, ts(30), 4L, Option("a"))) // null → a: change
      .toDF("user_id", "ts", "event_id", "tier")
    val out = graft.operators.Scd.scd2(log, Seq("user_id"), "ts", Seq("tier"),
        orderCols = Seq("event_id"))
      .collect().map(r => (r.getTimestamp(2).getTime, Option(r.getString(1)), r.getBoolean(4)))
      .sortBy(_._1).map(t => (t._2, t._3))
    assert(out.toSeq == Seq((Some("a"), false), (None, false), (Some("a"), true)))
  }

  test("cdcApply: delete-then-reinsert, last-writer-wins, verbatim null overwrite, untouched keys survive") {
    import spark.implicits._
    val base = Seq((1L, Option("a")), (2L, Option("b")), (3L, Option("c")))
      .toDF("k", "v")
    val changes = Seq(
      // key 1: D at t=5 then U at t=10 → reinserted with "a2"
      (1L, "D", ts(5), 1L, Option("x")), (1L, "U", ts(10), 2L, Option("a2")),
      // key 2: U then D (same ts, seq breaks the tie) → deleted
      (2L, "U", ts(5), 3L, Option("b2")), (2L, "D", ts(5), 4L, Option("y")),
      // key 4: insert of a key absent from base, with a NULL attribute
      (4L, "I", ts(1), 5L, None))
      .toDF("k", "op", "ts", "seq", "v")
    val out = graft.operators.Scd.cdcApply(base, changes, Seq("k"), "op", "ts",
        Seq("v"), orderCols = Seq("seq"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
    // key 3 untouched; key 4's post-image is NULL (verbatim, not patched)
    assert(out.toSeq == Seq((1L, Some("a2")), (3L, Some("c")), (4L, None)))
  }

  test("scd2 breaks equal-timestamp ties deterministically by order column") {
    import spark.implicits._
    val log = Seq((1L, ts(0), 2L, "b"), (1L, ts(0), 1L, "a"))
      .toDF("user_id", "ts", "event_id", "tier")
    val out = graft.operators.Scd.scd2(log, Seq("user_id"), "ts", Seq("tier"),
        orderCols = Seq("event_id"))
      .collect().map(r => (r.getString(1), r.getBoolean(4))).sortBy(_._1)
    // event_id 1 ("a") precedes 2 ("b"): a closed, b current
    assert(out.toSeq == Seq(("a", false), ("b", true)))
  }

  test("tableFingerprint is invariant to row order and partitioning") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"v${i % 37}")).toDF("k", "s")
    def fp(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Integrity.tableFingerprint(d, Seq("k", "s"), buckets = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val base = fp(df)
    val shuffled = fp(df.orderBy(rand(42)).repartition(13))
    assert(base == shuffled)
    // any single-row change flips exactly one bucket's hash
    val mutated = fp(df.withColumn("s",
      when(col("k") === 123L, lit("CHANGED")).otherwise(col("s"))))
    assert(base != mutated)
    assert(base.zip(mutated).count { case (a, b) => a != b } <= 2)
  }

  test("diffTables matches exceptAll-per-direction multiset semantics") {
    import spark.implicits._
    // duplicates on both sides, asymmetric multiplicity, null keys:
    // a holds (1,x)×3 (2,y)×1 (null,z)×1; b holds (1,x)×1 (3,w)×2 (null,z)×1
    val a = Seq((Some(1L), "x"), (Some(1L), "x"), (Some(1L), "x"),
      (Some(2L), "y"), (None: Option[Long], "z")).toDF("k", "s")
    val b = Seq((Some(1L), "x"), (Some(3L), "w"), (Some(3L), "w"),
      (None: Option[Long], "z")).toDF("k", "s")
    def sortedRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("NULL"),
        r.getString(1), r.getString(2))).sorted.toSeq
    val got = sortedRows(
      graft.operators.Integrity.diffTables(a, b, Seq("k", "s")))
    // the reference semantics the one-exchange form must reproduce
    val ref = sortedRows(
      a.exceptAll(b).withColumn("side", lit("only_in_a"))
        .unionByName(b.exceptAll(a).withColumn("side", lit("only_in_b"))))
    assert(got == ref)
    // spot values: (1,x) surfaces twice as only_in_a; (3,w) twice as b
    assert(got.count(_ == ("1", "x", "only_in_a")) == 2)
    assert(got.count(_ == ("3", "w", "only_in_b")) == 2)
    // identical multisets diff to nothing (null keys compare equal)
    assert(graft.operators.Integrity.diffTables(a, a, Seq("k", "s")).count() == 0)
    // an input column named like an internal one is diffed as data
    val aw = a.withColumnRenamed("s", "__w"); val bw = b.withColumnRenamed("s", "__w")
    assert(sortedRows(graft.operators.Integrity.diffTables(aw, bw, Seq("k", "__w"))) == ref)
    // an input column named like the output tag is refused
    intercept[IllegalArgumentException] {
      graft.operators.Integrity.diffTables(a.withColumnRenamed("s", "side"),
        b.withColumnRenamed("s", "side"), Seq("k", "side"))
    }
  }

  test("qualityReport accepts rule names with dots/spaces") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, null.asInstanceOf[String]), (-1L, "y")).toDF("k", "s")
    val out = graft.operators.Integrity.qualityReport(df, Seq(
        "k.negative check" -> (col("k") < 0), "s.null" -> col("s").isNull))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("k.negative check" -> 1L, "s.null" -> 1L))
  }

  test("qualityReport rejects duplicate rule names with a clear message") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Integrity.qualityReport(df, Seq(
        "dup" -> (col("k") < 0), "dup" -> col("s").isNull))
    }
    assert(e.getMessage.contains("dup"))
  }

  test("prunedRangeScan equals the plain filter and prunes buckets") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toLong, i / 100)).toDF("v", "grp")
    val bucket = expr("v DIV 250")
    val stats = graft.operators.DataSkipping.zoneMap(df, bucket, Seq("v"))
    val lo = lit(600L); val hi = lit(899L)
    val pruned = graft.operators.DataSkipping
      .prunedRangeScan(df, bucket, stats, "v", lo, hi)
      .select(col("v")).as[Long].collect().sorted
    assert(pruned.toSeq == (600L to 899L))
    // the zone map keeps only the 2 overlapping buckets of 8
    val live = stats.filter(col("max_v") >= lo && col("min_v") <= hi).count()
    assert(live == 2, s"expected 2 live buckets, got $live")
  }

  test("binnedQuantile p=1.0 sits in the max bin; negatives bin correctly") {
    import spark.implicits._
    val df = Seq(("g", -5.5), ("g", -0.1), ("g", 2.0), ("g", 7.25)).toDF("k", "v")
    val est = Robust.binnedQuantile(df, Seq("k"), col("v"), width = 1.0,
        p = 1.0, out = "q").collect().head.getDouble(1)
    assert(est >= 7.0 && est <= 8.0, s"est=$est")
  }
}
