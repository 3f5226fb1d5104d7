package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.detectors.HogzillaBatch

/** The S10 config layer: the reference's sflow.conf key surface
  * (HogConfig.scala:37-115) parsed without a config library, and the
  * thresholds/disabled flags/exclusion sets observably steering the
  * detector batch.
  */
class GraftConfigSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val myNets = Seq("10.0.")

  // ------------------------------------------------------------ parser

  private val sample =
    """
      |# reference-style conf
      |general {
      |        excludeIPs = "Set()"
      |    }
      |SMTPTalkers {
      |        disabled = "0"
      |        minBytes = "1000"   // inline comment
      |    }
      |hPortScan {
      |        excludeAlienPorts = "Set(80,443,53)"
      |        excludeAlienPorts = "Set(80,443)"
      |        minFlows = "7"
      |    }
      |curation { qualityMin = "0.25" }
      |""".stripMargin

  test("parse: sections flatten to dotted keys; quotes/comments stripped; last dup wins") {
    val c = GraftConfig.parse(sample)
    assert(c.getLong("SMTPTalkers.minBytes", 20971520L) == 1000L)
    assert(c.getInt("SMTPTalkers.disabled", 1) == 0)
    assert(c.getInt("hPortScan.minFlows", 100) == 7)
    assert(c.getSetString("hPortScan.excludeAlienPorts", Set.empty) == Set("80", "443"))
    assert(c.getDouble("curation.qualityMin", 0.5) == 0.25)
  }

  test("parse: Set() is explicitly empty; missing keys yield defaults; bad values fail soft") {
    val c = GraftConfig.parse(sample + "\nbad { n = \"twelve\" }\n")
    assert(c.getSetString("general.excludeIPs", Set("9.9.9.9")) == Set.empty)
    assert(c.getSetString("alien.excludeIPs", Set("1.1.1.1")) == Set("1.1.1.1"))
    assert(c.getInt("nosuch.key", 42) == 42)
    assert(c.getInt("bad.n", 13) == 13) // unparseable → default, no throw
    assert(c.getSetInt("hPortScan.excludeAlienPorts", Set.empty) == Set(80, 443))
  }

  test("parse: // starts a comment only at line start or after whitespace") {
    val c = GraftConfig.parse(
      """// a whole-line comment = 1
        |alert.notify = file:/var//spool
        |DDoS { minFlows = 5 // note
        |}
        |""".stripMargin)
    assert(Detection.fromConfig(c).alertNotify == Detection.Notify.File("/var//spool"))
    assert(c.getInt("DDoS.minFlows", 50) == 5)
    assert(c.entries.keySet == Set("alert.notify", "DDoS.minFlows"))
  }

  test("load: missing file is the all-defaults config") {
    val c = GraftConfig.load("/tmp/does/not/exist.conf")
    assert(c.getInt("anything.at.all", 5) == 5)
  }

  test("the reference's own sflow.conf parses with its documented values") {
    // compatibility proof against the real file this layer re-implements
    // (skipped when the reference checkout isn't present)
    val ref = "/root/reference/scripts/conf/sflow.conf"
    assume(new java.io.File(ref).isFile)
    val c = GraftConfig.load(ref)
    assert(c.getLong("abusedSMTP.minBytes", -1L) == 50000000L)
    assert(c.getInt("DDoS.minFlows", -1) == 50)
    assert(c.getSetString("atypicalPorts.excludePorts", Set.empty) ==
      Set("80", "443", "587", "465", "993", "995"))
    // duplicate key in the reference file: last one wins, as in HOCON
    assert(c.getSetString("hPortScan.excludeAlienPorts", Set.empty) ==
      Set("80", "443", "587", "465", "993", "995"))
    assert(c.getSetString("general.excludeIPs", Set("x")) == Set.empty)
    assert(c.getInt("alert.maxFlowList", -1) == 1000)
  }

  // ------------------------------------------------ end-to-end steering

  /** (src, dst, sport, dport, proto, pktSize, rate, flags, ts) */
  private def samples(rows: Seq[(String, String, String, String, String, Long, Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("srcIP", "dstIP", "srcPort", "dstPort", "IPprotocol",
      "packetSize", "samplingRate", "tcpFlags", "timestamp")
  }

  // bulk external SMTP, but only ~2.4MB effective — UNDER the reference
  // default of 20MB, so it only alerts when a conf file lowers minBytes
  private def modestSpam = (1 to 30).flatMap(i => Seq.fill(4)(
    ("10.0.0.5", "66.1.1." + i, "4000", "25", "6", 2000L, 10L, "0x18", 100L + i)))

  /** The batch's alerts, collected before its pins are released. */
  private def runBatch(conf: GraftConfig): DataFrame = {
    val s = samples(modestSpam)
    val empty = HogzillaBatch.emptyProfiles(spark)
    val profiles = HogzillaBatch.emptyProfileTables(spark)
    val (alerts, _, _, release) = HogzillaBatch.run(spark, s, myNets, profiles,
      blacklist = empty.select(col("name").as("prefix")),
      osRepos = empty.select(col("name").as("repo_ip"), col("name").as("os")),
      config = conf)
    try spark.createDataFrame(alerts.collect().toSeq.asJava, alerts.schema) finally release()
  }

  test("a conf-file threshold override changes the alert set (SMTPTalkers.minBytes)") {
    val defaults = runBatch(GraftConfig.empty)
      .filter(col("detector") === "smtpTalkers").count()
    assert(defaults == 0, "modest sender must not alert at the 20MB default")
    val lowered = runBatch(GraftConfig.parse(sample))
      .filter(col("detector") === "smtpTalkers")
    assert(lowered.count() == 1)
    assert(lowered.head().getAs[String]("my_ip") == "10.0.0.5")
  }

  test("<section>.disabled suppresses exactly that detector") {
    val conf = GraftConfig.parse(sample + "\ntopTalkers { disabled = \"1\" }\n")
    val alerts = runBatch(conf)
    assert(alerts.filter(col("detector") === "topTalkers").count() == 0)
    // the lowered-threshold smtpTalkers alert from the same conf survives
    assert(alerts.filter(col("detector") === "smtpTalkers").count() == 1)
  }

  test("excludeIPs (general ++ per-detector) suppress alerts for the listed local host") {
    val conf = GraftConfig.parse(
      sample + "\ngeneral { excludeIPs = \"Set(10.0.0.5)\" }\n")
    // 10.0.0.5 is the only local host in the fixture: nothing my_ip-keyed may fire
    assert(runBatch(conf).filter(col("my_ip").isNotNull).count() == 0)
  }

  test("hPortScan.minFlows also gates the HIST07 learn input") {
    // 10.0.0.7 probes port 3389 on 60 aliens: under the default per-port
    // floor of 100, over a lowered floor of 50
    val probe = samples((1 to 60).map(i =>
      ("10.0.0.7", "66.1.2." + i, "41000", "3389", "6", 60L, 1L, "0x02", 50L + i)))
    def learned(conf: GraftConfig): Long = {
      val empty = HogzillaBatch.emptyProfiles(spark)
      val (_, updated, _, release) = HogzillaBatch.run(spark, probe, myNets,
        HogzillaBatch.emptyProfileTables(spark),
        blacklist = empty.select(col("name").as("prefix")),
        osRepos = empty.select(col("name").as("repo_ip"), col("name").as("os")),
        config = conf)
      try updated.hist07.filter(col("name") === "10.0.0.7").count() finally release()
    }
    assert(learned(GraftConfig.empty) == 0)
    assert(learned(GraftConfig.parse("hPortScan { minFlows = \"50\" }")) == 1)
  }
}
