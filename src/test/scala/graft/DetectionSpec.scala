package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.detectors.{HogzillaBatch, SignatureCatalog}

/** The detector and auth conf surface lives in [[Detection]] alone: the
  * shipped conf file spells out its defaults, every key reaches one field
  * of the value, a value that does not parse fails, an unknown key only
  * warns, and no other main source names a key.
  */
class DetectionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val shipped = GraftConfig.load("conf/graft.conf")
  private lazy val keys = shipped.entries.filterNot(_._1.startsWith("curation."))

  /** The sections of the auth profiler and the detector-wide settings. */
  private val otherSections =
    Seq("general", "alert", "bigProviders", "location", "useragent", "system", "travel")

  /** Another valid value for each key, the sections' gate keys last. */
  private val alternatives = Map(
    "general.excludeIPs" -> "Set(10.0.0.9)",
    "alert.maxFlowList" -> "50",
    "alert.notify" -> "log",
    "SMTPTalkers.minBytes" -> "1000",
    "p2p.minPairs" -> "6",
    "p2p.minPorts" -> "5",
    "p2p.minPairs2nd" -> "11",
    "p2p.minPorts2nd" -> "12",
    "p2p.minBytes2nd" -> "20000000",
    "mediaStreaming.minDuration" -> "100",
    "mediaStreaming.maxDuration" -> "3600",
    "mediaStreaming.maxUploadBytes" -> "5000000",
    "mediaStreaming.minDownloadBytes" -> "2000000",
    "mediaStreaming.excludePorts" -> "Set(1194,1195)",
    "atypicalPorts.excludePorts" -> "Set(80,443)",
    "atypicalAlienPorts.minPacketsPerFlow" -> "3",
    "atypicalPairs.minPairs" -> "200",
    "atypicalData.minBytes" -> "1000000000",
    "alien.minPairs" -> "30",
    "UDPAmplifier.minPktsPerFlow" -> "1000",
    "abusedSMTP.minBytes" -> "40000000",
    "dnsTunnel.minBytes" -> "30000000",
    "ICMPTunnel.minPacket" -> "300",
    "ICMPTunnel.minBytes" -> "200000000",
    "hPortScan.minFlows" -> "50",
    "hPortScan.excludeAlienPorts" -> "Set(80,443,53,587)",
    "vPortScan.minPorts" -> "4",
    "vPortScan.maxPortNumber" -> "2048",
    "DDoS.minFlows" -> "60",
    "DDoS.minPairs" -> "25",
    "BotNet.minPktsPerFlow" -> "30",
    "bigProviders.minBytes" -> "2147483648",
    "location.disabled" -> "1",
    "location.allowedRadix" -> "250",
    "useragent.disabled" -> "2",
    "system.disabled" -> "1",
    "travel.maxKmh" -> "1200.0") ++
    Detection.Sections.flatMap(s =>
      Seq(s"${s.name}.disabled" -> "1", s"${s.name}.excludeIPs" -> "Set(10.0.0.9)"))

  /** Field name -> value, with each section's gate as its own field. */
  private def fields(d: Detection): Map[String, Any] =
    d.productElementNames.zip(d.productIterator).flatMap {
      case ("gates", g: Map[_, _]) => g.map { case (section, gate) => s"gates.$section" -> gate }
      case kv => Iterator(kv)
    }.toMap

  test("the blocks of conf/graft.conf outside curation parse to Detection.default") {
    assert(keys.size == 75, s"read ${keys.size} keys outside curation")
    assert(keys.keySet == Detection.Keys,
      s"shipped but not read: ${keys.keySet -- Detection.Keys}; " +
        s"read but not shipped: ${Detection.Keys -- keys.keySet}")
    assert(Detection.fromConfig(shipped) == Detection.default)
    assert(Detection.fromConfig(GraftConfig.empty) == Detection.default)
  }

  test("each key, set to another valid value, changes one field of fromConfig's result") {
    assert(alternatives.keySet == keys.keySet,
      s"keys without an alternative: ${keys.keySet -- alternatives.keySet}; " +
        s"alternatives for absent keys: ${alternatives.keySet -- keys.keySet}")
    val default = fields(Detection.default)
    val moved = alternatives.toSeq.map { case (key, value) =>
      assert(value != keys(key), s"$key: the alternative is the shipped value")
      val got = fields(Detection.fromConfig(GraftConfig.parse(s"""$key = "$value"""")))
      val changed = got.keySet.filter(f => got(f) != default(f))
      assert(changed.size == 1, s"$key = $value changed $changed")
      key -> changed.head
    }
    // a section's two gate keys share its gate entry; any other field has one key
    val byField = moved.groupBy(_._2).filter { case (field, ks) =>
      ks.size > (if (field.startsWith("gates.")) 2 else 1)
    }
    assert(byField.isEmpty, s"keys sharing one field: $byField")
  }

  test("no main source outside Detection.scala names a detector or auth key") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val prefixes = (Detection.Sections.map(_.name) ++ otherSections).map(s => s"\"$s.")
    val hits = for {
      p <- sources
      if rel(p) != "graft/Detection.scala"
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      if prefixes.exists(line.contains)
    } yield s"${rel(p)}:${n + 1}: ${line.trim}"
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    assert(hits.isEmpty, hits.mkString("detector keys outside Detection:\n", "\n", ""))
  }

  test("a value that does not parse fails, naming the key") {
    for ((key, value) <- Seq("DDoS.minFlows" -> "fifty", "topTalkers.disabled" -> "yes",
        "location.disabled" -> "3", "general.excludeIPs" -> "10.0.0.5",
        "alert.notify" -> "logs", "alert.notify" -> "file:")) {
      val e = intercept[IllegalArgumentException](
        Detection.fromConfig(GraftConfig.parse(s"""$key = "$value"""")))
      assert(e.getMessage.contains(key) && e.getMessage.contains(value), e.getMessage)
    }
  }

  test("any non-zero integer disables a section; the auth levels are 0, 1 or 2") {
    val d = Detection.fromConfig(GraftConfig.parse("DDoS.disabled = \"-3\"\nsystem.disabled = 2"))
    assert(!d.enabled("DDoS") && d.enabled("BotNet") && d.systemLevel == 2)
    intercept[IllegalArgumentException](Detection.default.copy(userAgentLevel = 5))
  }

  test("alert.notify is off, log or a file directory, and builds its sink") {
    def notify(v: String) =
      Detection.fromConfig(GraftConfig.parse(s"alert.notify = $v")).alertNotify
    assert(notify("off").sink.isEmpty)
    assert(notify("log").sink.contains(graft.operators.AlertSink.LogSink))
    assert(notify("file:/var/spool/alerts") == Detection.Notify.File("/var/spool/alerts"))
  }

  test("an unknown key inside a known section is reported, not rejected") {
    val c = GraftConfig.parse("DDoS { minFlow = \"50\" }\ncuration { typo = 1 }\nnosuch { k = 1 }")
    assert(Detection.unknownKeys(c) == Seq("DDoS.minFlow"))
    assert(Detection.fromConfig(c) == Detection.default)
  }

  test("the registry's sections are the detector blocks of conf/graft.conf, with signatures") {
    val blocks = keys.keySet.map(_.takeWhile(_ != '.')).filter(b =>
      keys.contains(s"$b.disabled") && keys.contains(s"$b.excludeIPs"))
    assert(Detection.Sections.map(_.name).toSet == blocks)
    assert(Detection.Sections.map(_.name).distinct.size == Detection.Sections.size)
    val unsigned = Detection.Sections.map(_.detector).filterNot(d =>
      d == "osDiscovery" || SignatureCatalog.byDetector.contains(d))
    assert(unsigned.isEmpty, s"registry detectors without a signature: $unsigned")
  }

  test("every detector of a full-DAG batch is a registry detector") {
    import spark.implicits._
    // DetectorSpec's full-DAG fixture: a spammer, a port probe and benign traffic
    val spam = (1 to 30).flatMap(i => Seq.fill(4)(
      ("10.0.0.5", "66.1.1." + i, "4000", "25", "6", 200000L, 10L, "0x18", 100L + i)))
    val probe = (1 to 5).map(i =>
      ("10.0.0.7", "99.9.9.9", "41000", (20 + i).toString, "6", 60L, 1L, "0x02", 50L + i))
    val benign = (1 to 5).map(i =>
      ("10.0.0.100", "93.1.1." + i, "50000", "443", "6", 1000L, 10L, "0x18", 1000L + i))
    val samples = (spam ++ probe ++ benign).toDF("srcIP", "dstIP", "srcPort", "dstPort",
      "IPprotocol", "packetSize", "samplingRate", "tcpFlags", "timestamp")
    val (alerts, _, _, release) = HogzillaBatch.run(spark, samples, Seq("10.0."),
      HogzillaBatch.emptyProfileTables(spark), blacklist = Seq("66.66.").toDF("prefix"),
      osRepos = Seq(("93.1.1.1", "debian")).toDF("repo_ip", "os"))
    val detectors = try alerts.select(col("detector")).distinct().as[String].collect().toSet
      finally release()
    assert(detectors.nonEmpty)
    assert(detectors.subsetOf(Detection.Sections.map(_.detector).toSet),
      s"not in the registry: ${detectors -- Detection.Sections.map(_.detector)}")
  }
}
