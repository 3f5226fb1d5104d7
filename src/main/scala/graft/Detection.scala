package graft

import graft.GraftConfig.Literal
import graft.operators.AlertSink

/** Every setting of the sFlow detectors ([[graft.detectors.HogzillaBatch]],
  * [[GraftApp]]) and of the auth profiler ([[GraftContinuousApp]]) as one
  * immutable value: the reference's `scripts/conf/sflow.conf` surface
  * (`HogConfig.scala:37-115`, defaults at `HogSFlow.scala:118-189`).
  * [[Detection.default]] holds the compiled-in defaults (the parameter
  * defaults below) and [[Detection.fromConfig]] reads the conf keys (every block of
  * `conf/graft.conf` but `curation`): no other code names one of these
  * keys or its default.
  *
  * A value that does not parse fails [[Detection.fromConfig]], naming the
  * key and the value. A key this value does not read, inside a section it
  * does, is reported ([[Detection.unknownKeys]], printed once per app run
  * by [[Detection.warnUnknownKeys]]) and otherwise ignored, so that a conf
  * written for the reference, which has keys graft does not implement,
  * still loads.
  *
  * `gates` holds each detector section's `disabled` flag and `excludeIPs`
  * list, keyed by the section's name in [[Detection.Sections]]. The auth
  * families (`location`, `useragent`, `system`) have the reference's
  * levels instead (`HogAuth.scala:83-85`): 0 detects and learns, 1 only
  * learns, 2 does neither.
  */
final case class Detection(
    gates: Map[String, Detection.Gate] =
      Detection.Sections.map(_.name -> Detection.Gate(disabled = false, excludeIPs = Set.empty)).toMap,
    generalExcludeIPs: Set[String] = Set.empty,
    maxFlowList: Int = 1000,
    alertNotify: Detection.Notify = Detection.Notify.Off,
    smtpMinBytes: Long = 20971520L, // 20 MB
    p2pMinPairs: Int = 5,
    p2pMinPorts: Int = 4,
    p2pMinPairs2nd: Int = 10,
    p2pMinPorts2nd: Int = 10,
    p2pMinBytes2nd: Long = 10000000L,
    mediaMinDuration: Int = 300,
    mediaMaxDuration: Int = 7200,
    mediaMaxUploadBytes: Long = 10000000L,
    mediaMinDownloadBytes: Long = 1000000L,
    mediaExcludePorts: Set[String] = Set("1194"),
    atypicalPortsExcludePorts: Set[String] = Set("80", "443", "587", "465", "993", "995"),
    alienPortsMinPacketsPerFlow: Int = 2,
    atypicalPairsMinPairs: Int = 300,
    atypicalDataMinBytes: Long = 5737418240L, // ~5 GB
    alienMinPairs: Int = 20,
    udpMinPktsPerFlow: Int = 2000,
    abusedSmtpMinBytes: Long = 50000000L,
    dnsTunnelMinBytes: Long = 25000000L,
    icmpMinPacket: Int = 200,
    icmpMinBytes: Long = 100000000L,
    hScanMinFlows: Int = 100,
    hScanExcludeAlienPorts: Set[String] = Set("80", "443", "53"),
    vScanMinPorts: Int = 3,
    vScanMaxPortNumber: Int = 1024,
    ddosMinFlows: Int = 50,
    ddosMinPairs: Int = 20,
    botnetMinPktsPerFlow: Int = 20,
    bigProvidersMinBytes: Long = 1073741824L, // 1 GB
    locationLevel: Int = 0,
    userAgentLevel: Int = 0,
    systemLevel: Int = 0,
    allowedRadixKm: Double = 400.0, // HogAuth.scala:352-369 same-region tolerance
    travelMaxKmh: Double = 900.0) { // about an airliner's speed

  require(gates.keySet == Detection.Sections.map(_.name).toSet,
    s"gates must cover exactly the detector sections, got ${gates.keySet.toSeq.sorted}")
  require(Seq(locationLevel, userAgentLevel, systemLevel).forall(Detection.AuthLevels),
    s"auth levels must be 0, 1 or 2, got $locationLevel/$userAgentLevel/$systemLevel")

  /** Whether the named section's detector runs. */
  def enabled(section: String): Boolean = !gates(section).disabled

  /** The IPs whose alerts the named section drops: its own list and the
    * general one, sorted.
    */
  def excludedIPs(section: String): Seq[String] =
    (gates(section).excludeIPs ++ generalExcludeIPs).toSeq.sorted
}

object Detection {

  /** A detector section of the conf: its block name and the `detector`
    * value of the alert rows it emits.
    */
  final case class Section(name: String, detector: String)

  /** The detector sections, in the order their alerts are unioned. */
  val Sections: Seq[Section] = Seq(
    Section("topTalkers", "topTalkers"),
    Section("SMTPTalkers", "smtpTalkers"),
    Section("p2p", "p2pTalkers"),
    Section("mediaStreaming", "mediaStreaming"),
    Section("atypicalPorts", "atypicalPorts"),
    Section("atypicalAlienPorts", "atypicalAlienPorts"),
    Section("atypicalPairs", "atypicalPairs"),
    Section("atypicalData", "atypicalData"),
    Section("alienNetworkAtypicalPorts", "alienNetworkAtypicalPorts"),
    Section("alien", "alienAccess"),
    Section("UDPAmplifier", "udpAmplifier"),
    Section("abusedSMTP", "abusedSMTP"),
    Section("dnsTunnel", "dnsTunnel"),
    Section("ICMPTunnel", "icmpTunnel"),
    Section("hPortScan", "hPortScan"),
    Section("vPortScan", "vPortScan"),
    Section("DDoS", "ddos"),
    Section("BotNet", "botnetCC"),
    Section("osDiscovery", "osDiscovery"))

  /** One section's `disabled` flag (any non-zero integer disables, as in
    * the reference, `HogSFlow.scala:154-170`) and its `excludeIPs` list.
    */
  final case class Gate(disabled: Boolean, excludeIPs: Set[String])

  /** Where `alert.notify` delivers each alert (the reference's mailer
    * role): nowhere, stderr lines, or JSON-line files under a directory.
    */
  sealed trait Notify {
    def sink: Option[AlertSink.Sink] = this match {
      case Notify.Off => None
      case Notify.Log => Some(AlertSink.LogSink)
      case Notify.File(dir) => Some(new AlertSink.FileSink(dir))
    }
  }

  object Notify {
    case object Off extends Notify
    case object Log extends Notify
    final case class File(dir: String) extends Notify {
      require(dir.nonEmpty, "a file notification needs a directory")
    }

    val literal: Literal[Notify] = Literal("off, log or file:<dir>", {
      case "off" => Some(Off)
      case "log" => Some(Log)
      case s if s.startsWith("file:") && s.length > "file:".length =>
        Some(File(s.stripPrefix("file:")))
      case _ => None
    })
  }

  private val AuthLevels = Set(0, 1, 2)

  /** A section's `disabled` value: any integer, non-zero disables. */
  private val Disabled: Literal[Boolean] =
    Literal(Literal.Int.what, v => Literal.Int.parse(v).map(_ != 0))

  private val AuthLevel: Literal[Int] =
    Literal("0, 1 or 2", v => Literal.Int.parse(v).filter(AuthLevels))

  /** The compiled-in defaults; `conf/graft.conf` spells out the same values. */
  val default: Detection = Detection()

  /** One key's value: its default when the key is missing. */
  private trait Get {
    def apply[T](key: String, default: T, lit: Literal[T]): T
  }

  /** The value `get` reads; the only code that names a key. */
  private def read(get: Get): Detection = {
    val d = default
    Detection(
      gates = Sections.map { s =>
        val g = d.gates(s.name)
        s.name -> Gate(
          disabled = get(s"${s.name}.disabled", g.disabled, Disabled),
          excludeIPs = get(s"${s.name}.excludeIPs", g.excludeIPs, Literal.SetString))
      }.toMap,
      generalExcludeIPs = get("general.excludeIPs", d.generalExcludeIPs, Literal.SetString),
      maxFlowList = get("alert.maxFlowList", d.maxFlowList, Literal.Int),
      alertNotify = get("alert.notify", d.alertNotify, Notify.literal),
      smtpMinBytes = get("SMTPTalkers.minBytes", d.smtpMinBytes, Literal.Long),
      p2pMinPairs = get("p2p.minPairs", d.p2pMinPairs, Literal.Int),
      p2pMinPorts = get("p2p.minPorts", d.p2pMinPorts, Literal.Int),
      p2pMinPairs2nd = get("p2p.minPairs2nd", d.p2pMinPairs2nd, Literal.Int),
      p2pMinPorts2nd = get("p2p.minPorts2nd", d.p2pMinPorts2nd, Literal.Int),
      p2pMinBytes2nd = get("p2p.minBytes2nd", d.p2pMinBytes2nd, Literal.Long),
      mediaMinDuration = get("mediaStreaming.minDuration", d.mediaMinDuration, Literal.Int),
      mediaMaxDuration = get("mediaStreaming.maxDuration", d.mediaMaxDuration, Literal.Int),
      mediaMaxUploadBytes =
        get("mediaStreaming.maxUploadBytes", d.mediaMaxUploadBytes, Literal.Long),
      mediaMinDownloadBytes =
        get("mediaStreaming.minDownloadBytes", d.mediaMinDownloadBytes, Literal.Long),
      mediaExcludePorts =
        get("mediaStreaming.excludePorts", d.mediaExcludePorts, Literal.SetString),
      atypicalPortsExcludePorts =
        get("atypicalPorts.excludePorts", d.atypicalPortsExcludePorts, Literal.SetString),
      alienPortsMinPacketsPerFlow =
        get("atypicalAlienPorts.minPacketsPerFlow", d.alienPortsMinPacketsPerFlow, Literal.Int),
      atypicalPairsMinPairs = get("atypicalPairs.minPairs", d.atypicalPairsMinPairs, Literal.Int),
      atypicalDataMinBytes = get("atypicalData.minBytes", d.atypicalDataMinBytes, Literal.Long),
      alienMinPairs = get("alien.minPairs", d.alienMinPairs, Literal.Int),
      udpMinPktsPerFlow = get("UDPAmplifier.minPktsPerFlow", d.udpMinPktsPerFlow, Literal.Int),
      abusedSmtpMinBytes = get("abusedSMTP.minBytes", d.abusedSmtpMinBytes, Literal.Long),
      dnsTunnelMinBytes = get("dnsTunnel.minBytes", d.dnsTunnelMinBytes, Literal.Long),
      icmpMinPacket = get("ICMPTunnel.minPacket", d.icmpMinPacket, Literal.Int),
      icmpMinBytes = get("ICMPTunnel.minBytes", d.icmpMinBytes, Literal.Long),
      hScanMinFlows = get("hPortScan.minFlows", d.hScanMinFlows, Literal.Int),
      hScanExcludeAlienPorts =
        get("hPortScan.excludeAlienPorts", d.hScanExcludeAlienPorts, Literal.SetString),
      vScanMinPorts = get("vPortScan.minPorts", d.vScanMinPorts, Literal.Int),
      vScanMaxPortNumber = get("vPortScan.maxPortNumber", d.vScanMaxPortNumber, Literal.Int),
      ddosMinFlows = get("DDoS.minFlows", d.ddosMinFlows, Literal.Int),
      ddosMinPairs = get("DDoS.minPairs", d.ddosMinPairs, Literal.Int),
      botnetMinPktsPerFlow = get("BotNet.minPktsPerFlow", d.botnetMinPktsPerFlow, Literal.Int),
      bigProvidersMinBytes = get("bigProviders.minBytes", d.bigProvidersMinBytes, Literal.Long),
      locationLevel = get("location.disabled", d.locationLevel, AuthLevel),
      userAgentLevel = get("useragent.disabled", d.userAgentLevel, AuthLevel),
      systemLevel = get("system.disabled", d.systemLevel, AuthLevel),
      allowedRadixKm = get("location.allowedRadix", d.allowedRadixKm, Literal.Double),
      travelMaxKmh = get("travel.maxKmh", d.travelMaxKmh, Literal.Double))
  }

  /** Every key [[fromConfig]] reads, from one [[read]] that returns the
    * defaults.
    */
  lazy val Keys: Set[String] = {
    val keys = Set.newBuilder[String]
    read(new Get {
      def apply[T](key: String, default: T, lit: Literal[T]): T = { keys += key; default }
    })
    keys.result()
  }

  /** The sections [[Keys]] belong to. */
  private lazy val KnownSections: Set[String] = Keys.map(_.takeWhile(_ != '.'))

  /** The keys of `c` inside a section this value reads that it does not
    * read (a misspelling such as `DDoS.minFlow`), sorted.
    */
  def unknownKeys(c: GraftConfig): Seq[String] =
    c.entries.keys.filter(k => KnownSections(k.takeWhile(_ != '.')) && !Keys(k)).toSeq.sorted

  /** One stderr line per key of [[unknownKeys]]; each app's `run` calls
    * it once.
    */
  def warnUnknownKeys(c: GraftConfig): Unit =
    unknownKeys(c).foreach(k =>
      System.err.println(s"[Detection] unknown key $k => '${c.entries(k)}'; ignored"))

  /** The keys of `c`; a missing key keeps its default and a value that
    * does not parse throws.
    */
  def fromConfig(c: GraftConfig): Detection =
    read(new Get {
      def apply[T](key: String, default: T, lit: Literal[T]): T = c.strict(key, default, lit)
    })
}
