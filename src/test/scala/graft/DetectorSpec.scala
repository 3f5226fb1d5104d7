package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.detectors.{Detectors, FlowSummary, HogzillaBatch}

/** Detector behavior on constructed sFlow scenarios with known ground
  * truth: each planted attack pattern must fire exactly its detector, and
  * benign background traffic must stay silent.
  */
class DetectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val myNets = Seq("10.0.")

  /** (src, dst, sport, dport, proto, pktSize, rate, flags, ts) */
  private def samples(rows: Seq[(String, String, String, String, String, Long, Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("srcIP", "dstIP", "srcPort", "dstPort", "IPprotocol",
      "packetSize", "samplingRate", "tcpFlags", "timestamp")
  }

  /** The key families of a summary, with the default row filters. */
  private def host(s: DataFrame) = Detectors.hostFeatures(s, myNets)
  private def contacts(s: DataFrame) = Detectors.contacts(s)
  private def pair(s: DataFrame) = Detectors.pairFeatures(contacts(s))
  private def alienPort(s: DataFrame) = Detectors.alienPortFeatures(contacts(s))
  private def servedPort(s: DataFrame) = Detectors.servedPortFeatures(s)
  private def alienNet(s: DataFrame) = Detectors.alienNetFeatures(s, myNets)

  /** The current-window frames a section shares with its learner. */
  private def hostPairs(s: DataFrame) = Detectors.hostPairs(pair(s))
  private def hist02Cur(s: DataFrame) = Detectors.hist02Current(alienPort(s))
  private def hist05Cur(s: DataFrame) = Detectors.hist05Current(s, alienNet(s), myNets)

  private def benign = (1 to 5).map(i =>
    ("10.0.0.100", "93.1.1." + i, "50000", "443", "6", 1000L, 10L, "0x18", 1000L + i))

  test("direction: local SYN → +1, alien SYN → -1, orientation canonicalized") {
    val s = samples(Seq(
      ("10.0.0.1", "8.8.8.8", "5555", "80", "6", 100L, 1L, "0x02", 10L), // local initiates
      ("9.9.9.9", "10.0.0.2", "6666", "22", "6", 100L, 1L, "0x02", 20L))) // alien initiates
    val sum_ = FlowSummary.summarize(s, myNets).collect()
      .map(r => r.getAs[String]("my_ip") -> r.getAs[Long]("direction")).toMap
    assert(sum_("10.0.0.1") == 1L)
    assert(sum_("10.0.0.2") == -1L)
  }

  test("smtpTalkers fires on a bulk external sender, not on benign traffic") {
    val spam = (1 to 30).flatMap(i => Seq.fill(4)(
      ("10.0.0.5", "66.1.1." + i, "4000", "25", "6", 200000L, 10L, "0x18", 100L + i)))
    val sum_ = FlowSummary.summarize(samples(spam ++ benign), myNets)
    val empty = HogzillaBatch.emptyProfiles(spark)
    val out = Detectors.smtpTalkers(host(sum_), empty, empty).collect()
    assert(out.map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.5"))
    // 30 flows × 200000B × rate 10 = 60MB effective > 20MB threshold
    assert(out.head.getAs[Double]("metric") > 20971520.0)
  }

  test("smtpTalkers stays silent for a host whose profile says SMTP is typical") {
    import spark.implicits._
    val spam = (1 to 30).flatMap(i => Seq.fill(4)(
      ("10.0.0.5", "66.1.1." + i, "4000", "25", "6", 200000L, 10L, "0x18", 100L + i)))
    val sum_ = FlowSummary.summarize(samples(spam), myNets)
    val knownSender = Seq(("10.0.0.5", 1000L, Map("25" -> 0.9, "443" -> 0.1)))
      .toDF("name", "size", "buckets")
    val out = Detectors.smtpTalkers(host(sum_), HogzillaBatch.emptyProfiles(spark), knownSender)
    assert(out.count() == 0)
  }

  private def noHosts = {
    import spark.implicits._
    Seq.empty[String].toDF("my_ip")
  }

  /** Local host 10.0.0.7 probing nPorts distinct well-known ports on one alien. */
  private def vScanProbe(nPorts: Int) = (1 to nPorts).map(i =>
    ("10.0.0.7", "99.9.9.9", "41000", (20 + i).toString, "6", 60L, 1L, "0x02", 50L + i))

  test("vPortScan alerts on deviation from the learned HIST08 port-count profile") {
    import spark.implicits._
    val sum_ = FlowSummary.summarize(samples(vScanProbe(5) ++ benign), myNets)
    // mature profile that has typically seen bursts of up to 7 ports → silent
    val tolerant = Seq(("10.0.0.7", 50L, Map("4" -> 0.6, "7" -> 0.4)))
      .toDF("name", "size", "buckets")
    assert(Detectors.vPortScan(pair(sum_), myNets, tolerant, noHosts).count() == 0)
    // mature profile that never saw more than 4 ports → fires
    val strict = Seq(("10.0.0.7", 50L, Map("4" -> 1.0))).toDF("name", "size", "buckets")
    val rows = Detectors.vPortScan(pair(sum_), myNets, strict, noHosts).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("my_ip") == "10.0.0.7")
    assert(rows.head.getAs[String]("alien_ip") == "99.9.9.9")
    assert(rows.head.getAs[Double]("metric") == 5.0)
    // cold-start profile (size < 10) → learn only, never alerts
    val cold = Seq(("10.0.0.7", 5L, Map("4" -> 1.0))).toDF("name", "size", "buckets")
    assert(Detectors.vPortScan(pair(sum_), myNets, cold, noHosts).count() == 0)
  }

  test("hPortScan alerts beyond the learned HIST07 per-port max, not a fixed threshold") {
    import spark.implicits._
    val scan = (1 to 120).map(i =>
      ("10.0.0.7", "66.1." + (i / 250) + "." + (i % 250), "41000", "3389", "6", 60L, 1L, "0x02", 50L + i))
    val sum_ = FlowSummary.summarize(samples(scan ++ benign), myNets)
    val empty = HogzillaBatch.emptyProfiles(spark)
    // learned max 200 on this port → 120 pairs is within profile → silent
    val wide = Seq(("10.0.0.7", 500L, Map("3389" -> 200.0))).toDF("name", "size", "buckets")
    assert(Detectors.hPortScan(alienPort(sum_), myNets, wide, empty, noHosts).count() == 0)
    // learned max 110 → 120 exceeds it → fires
    val tight = Seq(("10.0.0.7", 500L, Map("3389" -> 110.0))).toDF("name", "size", "buckets")
    val rows = Detectors.hPortScan(alienPort(sum_), myNets, tight, empty, noHosts).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("my_ip") == "10.0.0.7")
    assert(rows.head.getAs[String]("note").contains("3389"))
    // cold-start (size < 100) → learn only
    val cold = Seq(("10.0.0.7", 50L, Map("3389" -> 110.0))).toDF("name", "size", "buckets")
    assert(Detectors.hPortScan(alienPort(sum_), myNets, cold, empty, noHosts).count() == 0)
  }

  test("hPortScan suppresses port 25 for hosts whose HIST01 profile serves SMTP") {
    import spark.implicits._
    val scan = (1 to 120).map(i =>
      ("10.0.0.7", "66.1." + (i / 250) + "." + (i % 250), "41000", "25", "6", 60L, 1L, "0x02", 50L + i))
    val sum_ = FlowSummary.summarize(samples(scan), myNets)
    val tight = Seq(("10.0.0.7", 500L, Map("25" -> 10.0))).toDF("name", "size", "buckets")
    val notSmtp = HogzillaBatch.emptyProfiles(spark)
    assert(Detectors.hPortScan(alienPort(sum_), myNets, tight, notSmtp, noHosts).count() == 1)
    val smtpServer = Seq(("10.0.0.7", 500L, Map("25" -> 0.9, "443" -> 0.1)))
      .toDF("name", "size", "buckets")
    assert(Detectors.hPortScan(alienPort(sum_), myNets, tight, smtpServer, noHosts).count() == 0)
  }

  test("udpAmplifier fires on a huge-packet-count NTP flow") {
    val amp = Seq.fill(2100)(("10.0.0.8", "77.7.7.7", "123", "33333", "17", 400L, 1L, "0x00", 60L))
    val out = Detectors.udpAmplifier(host(FlowSummary.summarize(samples(amp ++ benign), myNets)))
    assert(out.collect().map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.8"))
  }

  test("botnetCC fires only for blacklisted prefixes via longest-prefix match") {
    import spark.implicits._
    val cc = Seq.fill(25)(("10.0.0.9", "66.66.1.2", "5000", "8080", "6", 100L, 1L, "0x18", 70L))
    val clean = Seq.fill(25)(("10.0.0.10", "88.88.1.2", "5000", "8080", "6", 100L, 1L, "0x18", 70L))
    val blacklist = Seq("66.66.", "66.66.1.").toDF("prefix")
    val out = Detectors.botnetCC(FlowSummary.summarize(samples(cc ++ clean), myNets), blacklist)
    assert(out.collect().map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.9"))
  }

  test("ddos fires on a fast many-pair burst and respects the trimmed mean") {
    val burst = (1 to 60).map(i =>
      ("44.4.4." + i, "10.0.0.11", "50000", "80", "6", 60L, 1L, "0x02", 1000L + i))
    val sum_ = FlowSummary.summarize(samples(burst ++ benign), myNets)
    val out = Detectors.ddos(sum_, hostPairs(sum_))
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("my_ip") == "10.0.0.11")
    assert(rows.head.getAs[Double]("metric") <= 1.0) // 1s gaps
  }

  test("atypicalPorts: cold-start profiles learn silently, warm profiles alert on new ports") {
    import spark.implicits._
    // 5 distinct alien source ports hit the served port → passes the
    // served-port screen (>3 distinct alien ports, diversity > 0.2)
    val oddPort = (1 to 5).flatMap(i => Seq.fill(3)(
      ("55.5.5.5", "10.0.0.12", (40000 + i).toString, "31337", "6", 100L, 1L, "0x02", 80L + i)))
    val sum_ = FlowSummary.summarize(samples(oddPort), myNets)
    val cold = Seq(("10.0.0.12", 5L, Map("80" -> 1.0))).toDF("name", "size", "buckets")
    assert(Detectors.atypicalPorts(servedPort(sum_), cold, noHosts).count() == 0) // size 5 < 100 → learn only
    val warm = Seq(("10.0.0.12", 500L, Map("80" -> 1.0))).toDF("name", "size", "buckets")
    val rows = Detectors.atypicalPorts(servedPort(sum_), warm, noHosts).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("note").contains("31337"))
  }

  test("atypicalPorts served-port screen drops client-side ephemeral ports") {
    import spark.implicits._
    // one alien source port repeatedly hitting 31337 → diversity 1 ≤ 3 →
    // the port is not genuinely served, no alert even with a warm profile
    val clienty = (1 to 5).map(i =>
      ("55.5.5.5", "10.0.0.12", "40000", "31337", "6", 100L, 1L, "0x02", 80L + i))
    val sum_ = FlowSummary.summarize(samples(clienty), myNets)
    val warm = Seq(("10.0.0.12", 500L, Map("80" -> 1.0))).toDF("name", "size", "buckets")
    assert(Detectors.atypicalPorts(servedPort(sum_), warm, noHosts).count() == 0)
  }

  test("proxyServers derivation feeds atypicalPorts' proxy-specific screen") {
    import spark.implicits._
    // 10.0.0.20 serves clients on 8080 AND fans out to many well-known
    // alien ports from it — proxy behavior (HogSFlow.scala:1480-1489)
    val proxyish = Seq("80", "443", "25", "22").zipWithIndex.map { case (p, i) =>
      ("10.0.0.20", "70.1.1." + (i + 1), "8080", p, "6", 100L, 1L, "0x02", 90L + i)
    } ++ (1 to 3).map(i => // inbound clients hitting the listening port
      ("70.3.3." + i, "10.0.0.20", (51000 + i).toString, "8080", "6", 100L, 1L, "0x02", 93L + i))
    val sum_ = FlowSummary.summarize(samples(proxyish), myNets)
    val proxies = Detectors.proxyServers(servedPort(sum_))
    assert(proxies.collect().map(_.getString(0)).toSeq == Seq("10.0.0.20"))
    // with the host whitelisted as a proxy, its served (direction<0) ports
    // still reach the profile comparison instead of being screened out
    val warm = Seq(("10.0.0.20", 500L, Map("80" -> 1.0))).toDF("name", "size", "buckets")
    val inbound = (1 to 4).flatMap(i => Seq.fill(3)(
      ("70.2.2." + i, "10.0.0.20", (50000 + i).toString, "9999", "6", 100L, 1L, "0x02", 95L + i)))
    val sum2 = FlowSummary.summarize(samples(inbound), myNets)
    assert(Detectors.atypicalPorts(servedPort(sum2), warm, proxies).collect()
      .exists(_.getAs[String]("note").contains("9999")))
  }

  test("bigProviders whitelist suppresses atypicalData for traffic to that network") {
    import spark.implicits._
    // pass 1: alien /24 66.10.20.x seen by >4 local hosts with a >1 GiB flow
    val bulk = (1 to 6).map(i =>
      ("10.0.0." + i, "66.10.20." + i, "45000", "443", "6", 20000000L, 100L, "0x18", 100L + i))
    val sum_ = FlowSummary.summarize(samples(bulk), myNets)
    val prov = Detectors.bigProviders(alienNet(sum_))
    assert(prov.collect().map(_.getString(0)).toSeq == Seq("66.10.20"))
    // pass 2: a host uploading 2 GB effective to the whitelisted network
    // stays silent; the same volume to an unknown network alerts
    val warm = Seq(("10.0.0.30", 500L, Map("5" -> 1.0))).toDF("name", "size", "buckets")
    def upload(dst: String) = Seq.fill(3)(
      ("10.0.0.30", dst, "45000", "443", "6", 20000000L, 100L, "0x02", 200L))
    val toProvider = FlowSummary.summarize(samples(upload("66.10.20.9")), myNets)
    assert(Detectors.atypicalData(toProvider, myNets, warm, prov, minBytes = 1000000L).count() == 0)
    val toUnknown = FlowSummary.summarize(samples(upload("88.9.9.9")), myNets)
    assert(Detectors.atypicalData(toUnknown, myNets, warm, prov, minBytes = 1000000L).count() == 1)
  }

  test("atypicalAlienPorts: snapshot leave-one-out + alien-side confirm (J6)") {
    import spark.implicits._
    // current window: 10.0.0.40 contacts external 77.1.2.3 on port 4444
    val flows = Seq.fill(3)(
      ("10.0.0.40", "77.1.2.3", "42000", "4444", "6", 500L, 1L, "0x02", 300L))
    val sum_ = FlowSummary.summarize(samples(flows), myNets)
    val hist02 = Seq(("10.0.0.40", 500L, Map("443" -> 1.0))).toDF("name", "size", "buckets")
    val snapYes = Seq(("10.0.0.40", 10L, Map("4444" -> 0.5, "443" -> 0.5)))
      .toDF("name", "size", "buckets")
    val snapNo = Seq(("10.0.0.40", 10L, Map("443" -> 1.0))).toDF("name", "size", "buckets")
    val empty = HogzillaBatch.emptyProfiles(spark)
    // alien /24 77.1.2 has a mature HIST05 that never served 4444 → confirm
    val h05 = Seq(("77.1.2", 100L, Map("443" -> 1.0))).toDF("name", "size", "buckets")
    val fires = Detectors.atypicalAlienPorts(contacts(sum_), hist02Cur(sum_), myNets, hist02, snapYes, empty, h05)
    assert(fires.collect().map(_.getAs[String]("note")).exists(_.contains("4444")))
    // gate 2: port absent from the last-window snapshot → noise, silent
    assert(Detectors.atypicalAlienPorts(contacts(sum_), hist02Cur(sum_), myNets, hist02, snapNo, empty, h05).count() == 0)
    // gate 3: the alien network typically serves 4444 → not atypical, silent
    val h05Serves = Seq(("77.1.2", 100L, Map("4444" -> 1.0))).toDF("name", "size", "buckets")
    assert(Detectors.atypicalAlienPorts(contacts(sum_), hist02Cur(sum_), myNets, hist02, snapYes, empty, h05Serves).count() == 0)
    // gate 3: immature alien profile (size < 21) cannot confirm → silent
    val h05Cold = Seq(("77.1.2", 5L, Map("443" -> 1.0))).toDF("name", "size", "buckets")
    assert(Detectors.atypicalAlienPorts(contacts(sum_), hist02Cur(sum_), myNets, hist02, snapYes, empty, h05Cold).count() == 0)
  }

  test("alienNetworkAtypicalPorts alerts on a new port for a profiled alien /24") {
    import spark.implicits._
    // >4 distinct local hosts touch 66.30.1.x on port 4444 this window
    val touch = (1 to 6).map(i =>
      ("10.0.0." + i, "66.30.1." + i, "43000", "4444", "6", 200L, 1L, "0x02", 400L + i))
    val sum_ = FlowSummary.summarize(samples(touch), myNets)
    val mature = Seq(("66.30.1", 2000L, Map("443" -> 1.0))).toDF("name", "size", "buckets")
    val rows = Detectors.alienNetworkAtypicalPorts(hist05Cur(sum_), mature).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("alien_ip") == "66.30.1")
    assert(rows.head.getAs[String]("note").contains("4444"))
    // immature network profile → learn only
    val cold = Seq(("66.30.1", 50L, Map("443" -> 1.0))).toDF("name", "size", "buckets")
    assert(Detectors.alienNetworkAtypicalPorts(hist05Cur(sum_), cold).count() == 0)
  }

  test("p2pTalkers method 1 fires on many pairs over many local ports; ftp traffic exempt") {
    val p2p = (1 to 8).map(i =>
      ("10.0.0.7", "66.2.1." + i, (4000 + i).toString, "6881", "6", 1000L, 1L, "0x02", 100L + i))
    val sum_ = FlowSummary.summarize(samples(p2p ++ benign), myNets)
    val out = Detectors.p2pTalkers(sum_, myNets,
      Detectors.ftpTalkerPairs(pair(sum_)), Detectors.ftpServers(host(sum_))).collect()
    assert(out.map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.7"))
    assert(out.head.getAs[String]("note") == "p2p method1")
  }

  test("mediaStreamingClients fires on a long download-heavy flow, skips p2p hosts") {
    val stream = Seq(1000L, 2400L).map(ts =>
      ("93.9.9.9", "10.0.0.8", "443", "50000", "6", 600000L, 10L, "0x18", ts))
    val sum_ = FlowSummary.summarize(samples(stream ++ benign), myNets)
    val noP2p = sum_.select(col("my_ip")).limit(0)
    val out = Detectors.mediaStreamingClients(pair(sum_), myNets, noP2p).collect()
    assert(out.map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.8"))
    // the same host listed as a P2P talker must be excluded (DAG J4)
    import spark.implicits._
    val p2pHosts = Seq("10.0.0.8").toDF("my_ip")
    assert(Detectors.mediaStreamingClients(pair(sum_), myNets, p2pHosts).count() == 0)
  }

  test("dnsTunnel fires on port-53 volume far past name resolution") {
    val tunnel = Seq(
      ("10.0.0.9", "8.8.4.4", "50000", "53", "17", 300000L, 100L, "0x00", 500L))
    val sum_ = FlowSummary.summarize(samples(tunnel ++ benign), myNets)
    val out = Detectors.dnsTunnel(host(sum_)).collect()
    assert(out.map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.9"))
    assert(Detectors.dnsTunnel(host(FlowSummary.summarize(samples(benign), myNets))).count() == 0)
  }

  test("alienAccess fires when one alien touches many local hosts") {
    val sweep = (1 to 25).map(i =>
      ("77.7.7.7", "10.0.0." + i, "55555", "445", "6", 100L, 1L, "0x02", 100L + i))
    val sum_ = FlowSummary.summarize(samples(sweep ++ benign), myNets)
    val out = Detectors.alienAccess(sum_, myNets).collect()
    assert(out.map(_.getAs[String]("alien_ip")).toSeq == Seq("77.7.7.7"))
  }

  test("icmpTunnel fires on big-payload high-volume ICMP, not on ordinary pings") {
    val tunnel = Seq(
      ("10.0.0.11", "44.4.4.4", "0", "0", "1", 50000L, 3000L, "0x00", 700L))
    val ping = Seq(
      ("10.0.0.12", "44.4.4.5", "0", "0", "1", 64L, 10L, "0x00", 701L))
    val sum_ = FlowSummary.summarize(samples(tunnel ++ ping ++ benign), myNets)
    val out = Detectors.icmpTunnel(host(sum_)).collect()
    assert(out.map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.11"))
  }

  test("osDiscovery maps repo contacts to a sorted OS set per host") {
    import spark.implicits._
    val repos = Seq(("81.1.1.1", "debian"), ("81.1.1.2", "freebsd")).toDF("repo_ip", "os")
    val traffic = Seq(
      ("10.0.0.13", "81.1.1.1", "44000", "80", "6", 500L, 1L, "0x18", 800L),
      ("10.0.0.13", "81.1.1.2", "44001", "80", "6", 500L, 1L, "0x18", 801L))
    val sum_ = FlowSummary.summarize(samples(traffic ++ benign), myNets)
    val out = Detectors.osDiscovery(sum_, repos).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("note") == "os: debian,freebsd")
  }

  test("vPortScan boundary: a port count at the profile's typical max stays silent, one past it fires") {
    import spark.implicits._
    val profile = Seq(("10.0.0.7", 50L, Map("5" -> 1.0))).toDF("name", "size", "buckets")
    val atMax = FlowSummary.summarize(samples(vScanProbe(5) ++ benign), myNets)
    assert(Detectors.vPortScan(pair(atMax), myNets, profile, noHosts).count() == 0)
    val pastMax = FlowSummary.summarize(samples(vScanProbe(6) ++ benign), myNets)
    assert(Detectors.vPortScan(pair(pastMax), myNets, profile, noHosts).collect()
      .map(_.getAs[String]("my_ip")).toSeq == Seq("10.0.0.7"))
  }

  test("maturity boundary: each profile-relative section compares a profile of size minObs, and only learns below it") {
    import spark.implicits._
    def profile(name: String, size: Long, buckets: (String, Double)*) =
      Seq((name, size, buckets.toMap)).toDF("name", "size", "buckets")
    def summary(rows: Seq[(String, String, String, String, String, Long, Long, String, Long)]) =
      FlowSummary.summarize(samples(rows), myNets)
    val empty = HogzillaBatch.emptyProfiles(spark)
    val noNets = Seq.empty[String].toDF("net")
    // the fixtures of the section tests above; fanOut: 10 partners, log bin 2
    val served = summary((1 to 5).flatMap(i => Seq.fill(3)(
      ("55.5.5.5", "10.0.0.12", (40000 + i).toString, "31337", "6", 100L, 1L, "0x02", 80L + i))))
    val alienFlows = summary(Seq.fill(3)(
      ("10.0.0.40", "77.1.2.3", "42000", "4444", "6", 500L, 1L, "0x02", 300L)))
    val fanOut = summary((1 to 10).map(i =>
      ("10.0.0.50", "66.4.4." + i, "43000", "8443", "6", 100L, 1L, "0x18", 500L + i)))
    val upload = summary(Seq.fill(3)(
      ("10.0.0.30", "88.9.9.9", "45000", "443", "6", 20000000L, 100L, "0x02", 200L)))
    val netTouch = summary((1 to 6).map(i =>
      ("10.0.0." + i, "66.30.1." + i, "43000", "4444", "6", 200L, 1L, "0x02", 400L + i)))
    val hScan = summary((1 to 120).map(i =>
      ("10.0.0.7", "66.1." + (i / 250) + "." + (i % 250), "41000", "3389", "6", 60L, 1L, "0x02", 50L + i)))
    val vScan = summary(vScanProbe(5) ++ benign)
    def alienPorts(hist02Size: Long, snapSize: Long, hist05Size: Long) =
      Detectors.atypicalAlienPorts(contacts(alienFlows), hist02Cur(alienFlows), myNets,
        profile("10.0.0.40", hist02Size, "443" -> 1.0),
        profile("10.0.0.40", snapSize, "4444" -> 0.5, "443" -> 0.5),
        empty, profile("77.1.2", hist05Size, "443" -> 1.0))
    // (section and profile, threshold, the alerts against a profile of size n)
    val sections: Seq[(String, Long, Long => DataFrame)] = Seq(
      ("atypicalPorts, HIST01", 100L, n =>
        Detectors.atypicalPorts(servedPort(served), profile("10.0.0.12", n, "80" -> 1.0), noHosts)),
      ("atypicalAlienPorts, HIST02", 100L, n => alienPorts(n, 10L, 100L)),
      ("atypicalAlienPorts, HIST02.1 snapshot", 1L, n => alienPorts(500L, n, 100L)),
      ("atypicalAlienPorts, alien-side HIST05", 21L, n => alienPorts(500L, 10L, n)),
      ("atypicalPairs, HIST03", 100L, n => Detectors.atypicalPairs(hostPairs(fanOut),
        profile("10.0.0.50", n, "9" -> 1.0), minPairs = 5)),
      ("atypicalData, HIST04", 100L, n => Detectors.atypicalData(upload, myNets,
        profile("10.0.0.30", n, "5" -> 1.0), noNets, minBytes = 1000000L)),
      ("alienNetworkAtypicalPorts, HIST05", 1000L, n =>
        Detectors.alienNetworkAtypicalPorts(hist05Cur(netTouch), profile("66.30.1", n, "443" -> 1.0))),
      ("hPortScan, HIST07", 100L, n => Detectors.hPortScan(alienPort(hScan), myNets,
        profile("10.0.0.7", n, "3389" -> 110.0), empty, noHosts)),
      ("vPortScan, HIST08", 10L, n => Detectors.vPortScan(pair(vScan), myNets,
        profile("10.0.0.7", n, "4" -> 1.0), noHosts)))
    for ((section, minObs, alerts) <- sections) {
      assert(alerts(minObs).count() > 0, s"$section: a profile of size $minObs must be compared")
      assert(alerts(minObs - 1).count() == 0,
        s"$section: a profile of size ${minObs - 1} must only learn")
    }
  }

  test("HogzillaBatch.run: full DAG produces the planted alerts and learns all 9 profile families") {
    import spark.implicits._
    // snapshot the shared session's persisted blocks: the leak assertion
    // below must only see blocks THIS test's runs add (other suites'
    // query-level caches are swept by the session-level hygiene in
    // Bench/app exits, not per-operator release thunks)
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val spam = (1 to 30).flatMap(i => Seq.fill(4)(
      ("10.0.0.5", "66.1.1." + i, "4000", "25", "6", 200000L, 10L, "0x18", 100L + i)))
    val scan = vScanProbe(5)
    val all = samples(spam ++ scan ++ benign)
    val profiles = HogzillaBatch.emptyProfileTables(spark)
    val (alerts, updated, reputation, release) = HogzillaBatch.run(spark, all, myNets, profiles,
      blacklist = Seq("66.66.").toDF("prefix"),
      osRepos = Seq(("93.1.1.1", "debian")).toDF("repo_ip", "os"))
    val byDetector = alerts.groupBy("detector").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDetector.contains("smtpTalkers"))
    assert(byDetector.contains("topTalkers"))
    assert(byDetector.contains("osDiscovery"))
    // alert payload: the spammer's alert carries its rendered top-K flow
    // list — lines look like "10.0.0.5:4000 => 66.1.1.x:25 (...)"
    val spamAlert = alerts.filter(col("detector") === "smtpTalkers" &&
      col("my_ip") === "10.0.0.5").select("flows").head().getString(0)
    assert(spamAlert.contains("10.0.0.5:4000") && spamAlert.contains(":25"))
    assert(spamAlert.contains("pkts") && spamAlert.contains("sampling: 1/"))
    assert(spamAlert.split("\n").length <= Detectors.FlowListLimit)
    assert(!byDetector.contains("botnetCC")) // nothing blacklisted in this batch
    // profile-relative scan detectors stay silent on run 1 (cold start)…
    assert(!byDetector.contains("vPortScan"))
    // …but the learn pass populates their profiles for the next run
    assert(updated.hist01.filter(col("name") === "10.0.0.5" && col("size") > 0).count() == 1)
    assert(updated.hist08.filter(col("name") === "10.0.0.7").count() == 1)
    assert(updated.hist02snap.filter(col("name") === "10.0.0.5").count() == 1)
    assert(reputation.proxies.count() == 0)
    // run 2 over the same traffic: the HIST08 profile now exists (still
    // below the maturity gate, and the 5-port burst is typical) → silent
    val (alerts2, _, _, release2) = HogzillaBatch.run(spark, all, myNets, updated,
      blacklist = Seq("66.66.").toDF("prefix"),
      osRepos = Seq(("93.1.1.1", "debian")).toDF("repo_ip", "os"))
    assert(alerts2.filter(col("detector") === "vPortScan").count() == 0)
    release(); release2()
    // the release thunks drop the shared summary caches: nothing persisted
    // by THESE runs survives
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    assert(leaked.isEmpty, s"HogzillaBatch.run leaked cached blocks: $leaked")
  }

  /** The full-DAG fixture above: a spammer, a port probe and benign traffic. */
  private def fullDag(config: GraftConfig = GraftConfig.empty) = {
    import spark.implicits._
    val spam = (1 to 30).flatMap(i => Seq.fill(4)(
      ("10.0.0.5", "66.1.1." + i, "4000", "25", "6", 200000L, 10L, "0x18", 100L + i)))
    HogzillaBatch.run(spark, samples(spam ++ vScanProbe(5) ++ benign), myNets,
      HogzillaBatch.emptyProfileTables(spark),
      blacklist = Seq("66.66.").toDF("prefix"),
      osRepos = Seq(("93.1.1.1", "debian")).toDF("repo_ip", "os"), config = config)
  }

  private def cachedRelations(plan: LogicalPlan) =
    plan.collect { case r: InMemoryRelation => r }

  test("HogzillaBatch.run: the alert plan reads the alert union and p2p from their pins") {
    val (alerts, _, _, release) = fullDag()
    try {
      // the 19-way detector union and p2p's method1 ∪ method2 are each
      // planned once, inside their cached relations, not per consumer
      val plan = alerts.queryExecution.optimizedPlan
      val unions = plan.collect { case u: Union => u }
      assert(unions.isEmpty, s"${unions.size} Union node(s) re-planned in the alert frame:\n$plan")
      assert(cachedRelations(plan).nonEmpty)
      assert(alerts.filter(col("detector") === "smtpTalkers").count() == 1)
    } finally release()
  }

  test("HogzillaBatch.run: p2p.excludeIPs drops the excluded host's p2p alert, filtering once") {
    import spark.implicits._
    // two method-1 p2p talkers (many peers over many local ports)
    def talker(ip: String, net: String) = (1 to 8).map(i =>
      (ip, s"$net.$i", (4000 + i).toString, "6881", "6", 1000L, 1L, "0x02", 100L + i))
    def run(conf: String) = HogzillaBatch.run(spark,
      samples(talker("10.0.0.7", "66.2.1") ++ talker("10.0.0.8", "66.3.1") ++ benign), myNets,
      HogzillaBatch.emptyProfileTables(spark), blacklist = Seq("66.66.").toDF("prefix"),
      osRepos = Seq(("93.1.1.1", "debian")).toDF("repo_ip", "os"),
      config = GraftConfig.parse(conf))
    def rows(alerts: DataFrame) = alerts.drop("time").collect().toSet
    val (all, _, _, releaseAll) = run("")
    val (excluded, _, _, release) = run("p2p { excludeIPs = \"Set(10.0.0.7)\" }")
    try {
      def p2p(r: Row) = r.getAs[String]("detector") == "p2pTalkers"
      val before = rows(all)
      assert(before.count(p2p) == 2, before.toString)
      // the same rows as without the list, less the excluded host's p2p alert
      assert(rows(excluded) == before.filterNot(r => p2p(r) && r.getAs[String]("my_ip") == "10.0.0.7"))
      // the exclusion filter sits on the p2p branch once: in the pinned
      // frame that p2pHosts reads too, not again in the alert union
      def maxOnPath(p: LogicalPlan): Int =
        (p match {
          case f: Filter if f.condition.sql.contains("10.0.0.7") => 1
          case _ => 0
        }) + p.children.map(maxOnPath).maxOption.getOrElse(0)
      assert(maxOnPath(excluded.queryExecution.analyzed) == 1)
    } finally { release(); releaseAll() }
  }

  /** Every node the planner put into a physical plan: through AQE's
    * initial plans (before runtime re-planning drops, say, the exchange of
    * an empty side), but not into the cached plan behind a pin's scan.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case _: InMemoryTableScanExec => Nil
    case other => (other.children ++ other.subqueries).flatMap(nodes)
  })

  private def shuffles(p: SparkPlan) = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  test("HogzillaBatch.run: host-keyed plans reuse the summary's my_ip partitioning") {
    val (_, updated, _, release) = fullDag()
    try {
      // hist07's learn pass reads both the summary and the p2p pin
      val pins = cachedRelations(updated.hist07.queryExecution.withCachedData)
      def pin(column: String) = pins.find(_.output.exists(_.name == column))
        .getOrElse(fail(s"no pin with a $column column among ${pins.map(_.output)}"))
      val p2pPlan = pin("detector").cachedPlan
      assert(shuffles(p2pPlan) == 0, s"the p2p pin's plan shuffles the summary again:\n$p2pPlan")
      // the hist01 write plan: one exchange for the stored profile side of
      // the merge join and one for the rebalance that sizes the written
      // files; the summary side is already keyed by host
      val plan = updated.hist01.queryExecution.executedPlan
      assert(shuffles(plan) == 2, s"hist01 runs ${shuffles(plan)} shuffles:\n$plan")
      val scanned = nodes(plan).collect { case s: InMemoryTableScanExec => s.outputPartitioning }
      assert(scanned.exists {
        case HashPartitioning(Seq(a: Attribute), _) => a.name == "my_ip"
        case _ => false
      }, s"no summary scan reports HashPartitioning(my_ip): $scanned")
    } finally release()
  }

  test("HogzillaBatch release() drops pins that never materialized") {
    // only topTalkers runs and only the alerts are materialized, so the
    // p2p pin (read by the hist07/hist08 learn pass) is never filled
    val others = Detection.Sections.map(_.name).filterNot(_ == "topTalkers")
    val before = CacheProbe.entries(spark)
    val (alerts, updated, _, release) =
      fullDag(GraftConfig.parse(others.map(s => s"$s.disabled = 1").mkString("\n")))
    assert(alerts.select("detector").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("topTalkers"))
    assert(cachedRelations(updated.hist07.queryExecution.withCachedData).nonEmpty)
    release()
    assert(CacheProbe.entries(spark) == before, "release() left cache entries")
    // fresh queries plan against the cache as it is now: no entry left,
    // with or without blocks behind it
    for ((name, df) <- Seq("alerts" -> alerts, "hist07" -> updated.hist07)) {
      val fresh = df.filter(lit(true)).queryExecution.withCachedData
      assert(cachedRelations(fresh).isEmpty, s"$name still reads a pin after release():\n$fresh")
    }
    assert(alerts.count() > 0) // the returned frames recompute
  }

  /** The last aggregate of a grouping: the one that emits its groups. */
  private def isFinal(a: BaseAggregateExec) =
    a.aggregateExpressions.exists(e => e.mode == Final || e.mode == Complete) ||
      (a.aggregateExpressions.isEmpty && a.requiredChildDistributionExpressions.isDefined)

  /** Whether `p` reads the summary pin's scan (the one pin with the
    * summary's `t_min`) through one-input operators only: projections,
    * filters, exchanges, windows and the partial steps of an aggregate.
    */
  private def readsSummary(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec if isFinal(a) => false
    case s: InMemoryTableScanExec => s.relation.output.exists(_.name == "t_min")
    case a: AdaptiveSparkPlanExec => readsSummary(a.initialPlan)
    case other => other.children match {
      case Seq(child) => readsSummary(child)
      case _ => false
    }
  }

  test("HogzillaBatch.run: each key family groups the summary once") {
    val (alerts, updated, _, release) = fullDag()
    try {
      // the alert plan (which reads the alert-union pin), the nine learned
      // tables' plans, and the cached plan of every pin they reach
      val roots = (alerts +: updated.toSeq).map(_.queryExecution.executedPlan)
      val plans = scala.collection.mutable.LinkedHashMap.empty[AnyRef, SparkPlan]
      def visit(p: SparkPlan): Unit = nodes(p).foreach {
        case s: InMemoryTableScanExec if !plans.contains(s.relation.cacheBuilder) =>
          plans(s.relation.cacheBuilder) = s.relation.cachedPlan
          visit(s.relation.cachedPlan)
        case _ =>
      }
      roots.foreach(visit)
      val keys = (roots ++ plans.values).flatMap(nodes).collect {
        case a: BaseAggregateExec if isFinal(a) && readsSummary(a.child) =>
          a.groupingExpressions.map(_.name).mkString(",")
      }
      // host; contacts, which the pair and alien-port families roll up;
      // served port (per alien port, then per port); alien net (keyed by a
      // computed /24, which the planner names _groupingexpression); and
      // the sections that keep their own: DDoS's gap window (a second
      // my_ip) and alienAccess
      val allowed = Map("my_ip" -> 2, "my_ip,alien_ip,alien_port" -> 1,
        "my_ip,my_port,alien_port" -> 1, "_groupingexpression" -> 1, "alien_ip" -> 1)
      val perKey = keys.groupBy(identity).map { case (k, v) => k -> v.size }
      assert(perKey.forall { case (k, n) => n <= allowed.getOrElse(k, 0) },
        s"aggregates over the summary scan, by grouping key: $perKey")
    } finally release()
  }
}
