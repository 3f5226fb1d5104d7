package graft.detectors

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's numeric alert-signature catalog, re-expressed as a
  * seedable dimension table. Every signature row mirrors a
  * `HogSignature(class, name, priority, revision, id, group_id)`
  * declaration (HogSignature.scala:32; seeded per detector module at
  * HogSFlow.scala:61-77, HogDNS.scala:53-54, HogHTTP.scala:50-51,
  * HogSFlowHistograms.scala:61, HogAuth.scala:68-71), and downstream
  * event consumers key on `signature_id` exactly as the reference's
  * events table does (HogEvent.scala:61-82).
  */
object SignatureCatalog {

  final case class Signature(signature_id: Long, signature_class: Int,
      signature_name: String, signature_priority: Int,
      signature_revision: Int, signature_group_id: Int)

  /** The full catalog. IDs are the reference's verbatim. */
  val all: Seq[Signature] = Seq(
    // sFlow detectors (HogSFlow.scala:61-77)
    Signature(826001001L, 3, "HZ: Top talker identified",                 2, 1, 826),
    Signature(826001002L, 3, "HZ: SMTP talker identified",                1, 1, 826),
    Signature(826001003L, 3, "HZ: Atypical TCP port used",                2, 1, 826),
    Signature(826001004L, 3, "HZ: Atypical alien TCP port used",          2, 1, 826),
    Signature(826001005L, 3, "HZ: Atypical number of pairs in the period",2, 1, 826),
    Signature(826001006L, 3, "HZ: Atypical amount of data transferred",   2, 1, 826),
    Signature(826001007L, 3, "HZ: Alien accessing too much hosts",        3, 1, 826),
    Signature(826001008L, 3, "HZ: P2P communication",                     3, 1, 826),
    Signature(826001009L, 3, "HZ: UDP amplifier (DDoS)",                  1, 1, 826),
    Signature(826001010L, 3, "HZ: Abused SMTP Server",                    2, 1, 826),
    Signature(826001011L, 3, "HZ: Media streaming client",                3, 1, 826),
    Signature(826001012L, 3, "HZ: DNS Tunnel",                            1, 1, 826),
    Signature(826001013L, 3, "HZ: ICMP Tunnel",                           1, 1, 826),
    Signature(826001014L, 3, "HZ: Horizontal portscan",                   2, 1, 826),
    Signature(826001015L, 3, "HZ: Vertical portscan",                     2, 1, 826),
    Signature(826001016L, 3, "HZ: Server under DDoS attack",              1, 1, 826),
    Signature(826001017L, 3, "HZ: C&C BotNet communication",              1, 1, 826),
    // DNS / HTTP K-Means detectors (HogDNS.scala:53-54, HogHTTP.scala:50-51)
    Signature(826000001L, 3, "HZ: Suspicious DNS flow identified by K-Means clustering",  2, 1, 826),
    Signature(826000002L, 3, "HZ: Suspicious DNS flow identified by SuperBag",            2, 1, 826),
    Signature(826000101L, 3, "HZ: Suspicious HTTP flow identified by K-Means clustering", 2, 1, 826),
    Signature(826000102L, 3, "HZ: Suspicious HTTP flow identified by SuperBag",           2, 1, 826),
    // histogram clustering top talker (HogSFlowHistograms.scala:61)
    Signature(826001101L, 3, "HZ: Top talker identified",                 2, 1, 826),
    // auth profiling (HogAuth.scala:68-71)
    Signature(826001201L, 3, "HZ/Auth: Atypical access location",         2, 1, 826),
    Signature(826001202L, 3, "HZ/Auth: Atypical access user-agent",       2, 1, 826),
    Signature(826001203L, 3, "HZ/Auth: Atypical access service or system",2, 1, 826),
    Signature(826001204L, 3, "HZ/Auth: Atypical user access",             2, 1, 826),
    // repo extension (not in the reference): geo-velocity impossible
    // travel — new id in a group-826 slot the reference leaves unused
    Signature(826002001L, 3, "HZ/Auth: Impossible travel speed",          1, 1, 826),
  )

  /** Repo detector name → signature id. `alienNetworkAtypicalPorts`
    * reuses the AtypicalTCPPortUsed signature exactly as the reference's
    * HIST05 branch does (HogSFlow.scala:2062); `osDiscovery` has NO
    * signature — the reference records OS findings in the inventory
    * table, not the events table, so its alert rows carry a null id.
    */
  val byDetector: Map[String, Long] = Map(
    "topTalkers" -> 826001001L,
    "smtpTalkers" -> 826001002L,
    "atypicalPorts" -> 826001003L,
    "atypicalAlienPorts" -> 826001004L,
    "alienNetworkAtypicalPorts" -> 826001003L,
    "atypicalPairs" -> 826001005L,
    "atypicalData" -> 826001006L,
    "alienAccess" -> 826001007L,
    "p2pTalkers" -> 826001008L,
    "udpAmplifier" -> 826001009L,
    "abusedSMTP" -> 826001010L,
    "mediaStreaming" -> 826001011L,
    "dnsTunnel" -> 826001012L,
    "icmpTunnel" -> 826001013L,
    "hPortScan" -> 826001014L,
    "vPortScan" -> 826001015L,
    "ddos" -> 826001016L,
    "botnetCC" -> 826001017L,
    "dnsKmeans" -> 826000001L,
    "httpKmeans" -> 826000101L,
    // continuous auth detectors (GraftContinuousApp): the city flag is
    // the primary family, matching HogAuth's location signature; ua and
    // service variants are resolved by authSignature below
    "atypicalAccess" -> 826001201L,
    "impossibleTravel" -> 826002001L,
  )

  /** The signature of an atypicalAccess alert from its three 0/1 family
    * flags (HogAuth.scala:68-71): the combined "Atypical user access" id
    * when more than one family fired, else the id of the one that did.
    */
  def authSignature(city: Column, userAgent: Column, service: Column): Column =
    when(city + userAgent + service > 1, lit(826001204L))
      .when(city === 1, lit(826001201L))
      .when(userAgent === 1, lit(826001202L))
      .otherwise(lit(826001203L))

  /** The catalog as a DataFrame (a broadcast-sized dimension). */
  def catalog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    all.toDF()
  }

  /** (detector, signature_id, signature_name, signature_priority) lookup
    * frame for joining onto alert streams; always broadcast it.
    */
  def detectorLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sigById = all.map(s => s.signature_id -> s).toMap
    byDetector.toSeq.map { case (det, id) =>
      val s = sigById(id)
      (det, id, s.signature_name, s.signature_priority)
    }.toDF("detector", "signature_id", "signature_name", "signature_priority")
  }

  /** Seed the catalog into a state table with reference semantics: ids
    * already present keep their exact row (HogSignature.saveHBase only
    * puts when the rowkey is absent — insert-if-absent, not upsert).
    */
  def seed(spark: SparkSession, state: DataFrame): DataFrame =
    graft.operators.ProfileStore.insertIfAbsent(state, catalog(spark), Seq("signature_id"))
}
