package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ScratchDirs

class GraftContinuousAppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(min: Long) = new Timestamp(min * 60000L)

  test("run rejects a conf value that does not parse before it starts a query") {
    import spark.implicits._
    val root = ScratchDirs.create("graftcont_badconf")
    val source = MemoryStream[(String, Timestamp, String, String, String, String)](spark, 21)
    val stream = source.toDF()
      .toDF("user_name", "ts", "city", "coords", "user_agent", "service")
    val e = intercept[IllegalArgumentException] {
      GraftContinuousApp.run(spark, stream, s"$root/state", s"$root/out", 1,
        GraftConfig.parse("""DDoS { minFlows = "fifty" }"""))
    }
    assert(e.getMessage.contains("DDoS.minFlows"), e.getMessage)
    assert(!new java.io.File(s"$root/state/checkpoint").exists(), "a query was started")
  }

  test("continuous auth mode: learn batch then detect batch, state persists") {
    import spark.implicits._
    val root = ScratchDirs.create("graftcont")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val sp = "-23.55,-46.63" // São Paulo
    val berlin = "52.52,13.40"
    val source = MemoryStream[(String, Timestamp, String, String, String, String)](spark, 21)
    val stream = source.toDF()
      .toDF("user_name", "ts", "city", "coords", "user_agent", "service")
    val q = GraftContinuousApp.run(spark, stream, stateDir, outDir, 1)

    // batch 1: 12 São Paulo logins — profiles cold (empty) → no alerts, learn only
    source.addData((1 to 12).map(i =>
      ("alice", ts(i), "SaoPaulo", sp, "Firefox", "ssh")): _*)
    q.processAllAvailable()
    val a1 = spark.read.parquet(s"$outDir/auth_alerts")
    assert(a1.filter(col("detector") === "atypicalAccess").count() == 0)
    assert(spark.read.parquet(s"$stateDir/auth_state/profiles")
      .filter(col("name") === "HIST20-alice").head().getLong(1) == 12L)

    // batch 2: Berlin 30 min after the last São Paulo login — the mature
    // profile flags the unseen far city AND the hop is impossible travel
    source.addData(("alice", ts(42), "Berlin", berlin, "Firefox", "ssh"))
    q.processAllAvailable()
    q.stop()
    val a2 = spark.read.parquet(s"$outDir/auth_alerts")
    val atyp = a2.filter(col("detector") === "atypicalAccess").collect()
    assert(atyp.length == 1 && atyp.head.getAs[Int]("atypical_city") == 1)
    // event-row fidelity: numeric signature of the family that fired,
    // username, and the learned city coords (HogEvent.scala:61-82)
    assert(atyp.head.getAs[Long]("signature_id") == 826001201L)
    assert(atyp.head.getAs[String]("username") == "alice")
    assert(atyp.head.getAs[String]("coords") == berlin)
    // impossible travel only sees within-batch consecutive logins; batch 2
    // has a single row, so the alert (if any) must come from batch 1 — none
    assert(a2.filter(col("detector") === "impossibleTravel").count() == 0)
    // the Berlin observation was learned after detection
    val h20 = spark.read.parquet(s"$stateDir/auth_state/profiles")
      .filter(col("name") === "HIST20-alice").head()
    assert(h20.getLong(1) == 13L)
  }

  test("a replayed micro-batch is a no-op: no double-merge, no duplicate alerts") {
    import spark.implicits._
    val root = ScratchDirs.create("graftreplay")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val batch = (1 to 8).map(i =>
      ("bob", ts(i), "Lima", "-12.04,-77.04", "Safari", "vpn")).toDF(
      "user_name", "ts", "city", "coords", "user_agent", "service")

    GraftContinuousApp.processBatch(spark, batch, stateDir, outDir, batchId = 0L)
    val size1 = spark.read.parquet(s"$stateDir/auth_state/profiles")
      .filter(col("name") === "HIST20-bob").head().getLong(1)
    assert(size1 == 8L)

    // foreachBatch is at-least-once: simulate the replay of batch 0 —
    // the marker inside the swapped state must make it a no-op
    GraftContinuousApp.processBatch(spark, batch, stateDir, outDir, batchId = 0L)
    val size2 = spark.read.parquet(s"$stateDir/auth_state/profiles")
      .filter(col("name") === "HIST20-bob").head().getLong(1)
    assert(size2 == 8L, s"replay double-merged the profile: $size2")

    // the NEXT batch still applies normally
    GraftContinuousApp.processBatch(spark, batch, stateDir, outDir, batchId = 1L)
    val size3 = spark.read.parquet(s"$stateDir/auth_state/profiles")
      .filter(col("name") === "HIST20-bob").head().getLong(1)
    assert(size3 == 16L)
  }
}
