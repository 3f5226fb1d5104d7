package graft.detectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftConfig
import graft.functions.HistogramFunctions
import graft.operators.{Pin, ProfileStore}

/** The 6-hourly batch analytics run (`Hogzilla.main`,
  * `src/Hogzilla.scala:49-78`) re-sequenced Spark-first: one cached flow
  * summary fans out to every detector; derived-set dependencies
  * (ftpTalkers → p2p → mediaStreaming, SURVEY §2.3 J4) are explicit
  * DataFrame handoffs instead of collect/re-broadcast round-trips; the
  * profile learn pass is one ProfileStore.update per family at the end
  * instead of a per-key RPC inside foreach (SURVEY §7.4 risk 1).
  *
  * Reputation feedback (HogSFlow.scala:1486, 2029; HogHBaseReputation
  * .scala:85-93) is intra-run two-pass sequencing: pass 1 derives the
  * proxy and BigProvider whitelists from the same summary, pass 2's
  * detectors consume them ([[Detectors.atypicalPorts]],
  * [[Detectors.atypicalData]]). The derived lists are also returned so a
  * caller can persist them for the next run (the reference's store).
  *
  * Pinned frames. Each frame that several plans of one batch read is
  * cached once, so the detector DAG is evaluated once per batch instead
  * of once per consumer:
  *  - the flow summary: every detector, the alert payloads and the learn
  *    pass;
  *  - the `p2p` alert frame (method 1 ∪ method 2): the p2p section and
  *    `p2pHosts`, which mediaStreaming, hPortScan, vPortScan and the
  *    hist07/hist08 learn pass read;
  *  - the union of the enabled detector sections (`bare`): the alert
  *    rows, both `flowDetail` key sets (`my_ip`, `alien_ip`) and any
  *    re-read of the returned alerts (AlertSink.deliver).
  * Without the last two pins the alert write alone re-planned the
  * 19-way union three times and the p2p frame about twelve times.
  *
  * The pins are [[Pin.Scope.cache]] pins, the kind a lost executor
  * recomputes (see [[Pin]]).
  * Pinning the reputation lists, `p2pHosts` and the current hist02 as
  * well was measured on the sflow_batch benchmark and gained nothing, so
  * they stay unpinned.
  */
object HogzillaBatch {

  /** The reference's 8 HIST families (HogHBaseHistogram.scala) plus the
    * HIST02.1 last-window snapshot. All share the
    * (name, size, buckets: map<string,double>) schema; hist07's bucket
    * values are raw counts (mergeMax semantics), the rest relative
    * frequencies.
    */
  case class ProfileTables(
      hist01: DataFrame,     // open server ports per host
      hist02: DataFrame,     // alien ports contacted per host
      hist02snap: DataFrame, // HIST02.1: last-window snapshot of hist02
      hist03: DataFrame,     // log-binned pair counts
      hist04: DataFrame,     // log-binned upload bytes
      hist05: DataFrame,     // ports per alien /24 network
      hist06: DataFrame,     // log-binned upload bins per alien /24
      hist07: DataFrame,     // max distinct-pair fan-out per (host, port)
      hist08: DataFrame)     // distinct-port-count distribution per host

  /** Derived reputation lists from one run (pass 1) — persist and feed
    * back as the next run's exclusions, as the reference's HBase
    * reputation table does.
    */
  case class ReputationLists(
      proxies: DataFrame,      // (my_ip)
      bigProviders: DataFrame) // (net)

  /** Empty profile state with the (name, size, buckets) schema. */
  def emptyProfiles(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("name", StringType), StructField("size", LongType),
        StructField("buckets", MapType(StringType, DoubleType)))))
  }

  def emptyProfileTables(spark: SparkSession): ProfileTables = {
    val e = emptyProfiles(spark)
    ProfileTables(e, e, e, e, e, e, e, e, e)
  }

  /** Run every detector over one batch of raw sFlow samples.
    * Returns (alerts, updated profile tables, derived reputation lists,
    * release) — `release()` drops every frame this run pinned (the flow
    * summary, `p2p` and the alert union), blocking until the blocks are
    * gone; call it after materializing the outputs (in a `finally`, so a
    * failed write does not leave the pins cached in a long-lived
    * session). The returned frames stay usable after it: they recompute.
    *
    * `config` carries the reference's per-detector conf surface
    * (`scripts/conf/sflow.conf` key names, `HogSFlow.scala:118-189`
    * defaults): every threshold below reads its reference key with the
    * compiled-in default, each section honors `<section>.disabled`, and
    * `<section>.excludeIPs` ++ `general.excludeIPs` suppress alerts for
    * the listed local IPs (a broadcast-literal isin filter — exclusion
    * sets are config-sized, never data-sized).
    */
  def run(spark: SparkSession, samples: DataFrame, myNets: Seq[String],
      profiles: ProfileTables, blacklist: DataFrame, osRepos: DataFrame,
      config: GraftConfig = GraftConfig.empty)
      : (DataFrame, ProfileTables, ReputationLists, () => Unit) = {
    val c = config

    // run-scoped pins, dropped by release() dependents first (newest
    // first): a pin uncached before the pins planned over it would make
    // Spark re-plan those that never materialized
    val pins = Pin.scope()

    val summary = pins.cache(FlowSummary.summarize(samples, myNets))

    val generalExcluded = c.getSetString("general.excludeIPs", Set.empty)
    // reference semantics (HogSFlow.scala:173-189): per-detector
    // exclusions extend the general list and suppress alerts keyed to an
    // excluded host — LOCAL or ALIEN (the reference also drops flows whose
    // alien IP is listed, HogSFlow.scala:1159-1160, 1230-1231). Applied at
    // alert level here; the one semantic delta vs the reference's
    // flow-level p2p filter is that an excluded alien's flows still count
    // toward a local host's p2p aggregates (they only stop producing
    // alerts KEYED to the excluded IP).
    def excluding(section: String)(alerts: DataFrame): DataFrame = {
      val ex = (c.getSetString(s"$section.excludeIPs", Set.empty) ++ generalExcluded).toSeq.sorted
      if (ex.isEmpty) alerts
      else {
        val myOk = col("my_ip").isNull || !col("my_ip").isin(ex: _*)
        if (alerts.columns.contains("alien_ip"))
          alerts.filter(myOk && (col("alien_ip").isNull || !col("alien_ip").isin(ex: _*)))
        else alerts.filter(myOk)
      }
    }

    // derived exclusion sets first (the reference's detector DAG)
    val ftpPairs = Detectors.ftpTalkerPairs(summary)
    val ftpSrv = Detectors.ftpServers(summary)
    val p2p = pins.cache(excluding("p2p")(Detectors.p2pTalkers(summary, myNets, ftpPairs, ftpSrv,
      minPairs = c.getInt("p2p.minPairs", 5),
      minPorts = c.getInt("p2p.minPorts", 4),
      minPairs2 = c.getInt("p2p.minPairs2nd", 10),
      minPorts2 = c.getInt("p2p.minPorts2nd", 10),
      minBytes2 = c.getLong("p2p.minBytes2nd", 10000000L))))
    val p2pHosts = p2p.select(col("my_ip")).distinct()

    // pass 1: intra-run reputation (HogSFlow.scala:1486, 2029)
    val reputation = ReputationLists(
      proxies = Detectors.proxyServers(summary),
      bigProviders = Detectors.bigProviders(summary, myNets,
        minBytes = c.getLong("bigProviders.minBytes", 1073741824L)))

    // pass 2: the standing detectors, profile-relative where the
    // reference's are (HIST01/02/02.1/03/04/05/07/08); each entry is
    // (conf section, lazily-built frame) so a disabled section never
    // even constructs its plan
    val detectorRuns: Seq[(String, () => DataFrame)] = Seq(
      "topTalkers" -> (() => Detectors.topTalkers(summary)),
      "SMTPTalkers" -> (() => Detectors.smtpTalkers(summary, myNets,
        profiles.hist01, profiles.hist02,
        minBytes = c.getLong("SMTPTalkers.minBytes", 20971520L))),
      "p2p" -> (() => p2p),
      "mediaStreaming" -> (() => Detectors.mediaStreamingClients(summary, myNets, p2pHosts,
        minDuration = c.getInt("mediaStreaming.minDuration", 300),
        maxDuration = c.getInt("mediaStreaming.maxDuration", 7200),
        maxUpload = c.getLong("mediaStreaming.maxUploadBytes", 10000000L),
        minDownload = c.getLong("mediaStreaming.minDownloadBytes", 1000000L),
        excludePorts = c.getSetString("mediaStreaming.excludePorts", Set("1194")).toSeq.sorted)),
      "atypicalPorts" -> (() => Detectors.atypicalPorts(summary, profiles.hist01,
        reputation.proxies,
        excludePorts = c.getSetString("atypicalPorts.excludePorts",
          Set("80", "443", "587", "465", "993", "995")).toSeq.sorted)),
      "atypicalAlienPorts" -> (() => Detectors.atypicalAlienPorts(summary, myNets,
        profiles.hist02, profiles.hist02snap, profiles.hist01, profiles.hist05,
        minPktsPerFlow = c.getInt("atypicalAlienPorts.minPacketsPerFlow", 2))),
      "atypicalPairs" -> (() => Detectors.atypicalPairs(summary, profiles.hist03,
        minPairs = c.getInt("atypicalPairs.minPairs", 300))),
      "atypicalData" -> (() => Detectors.atypicalData(summary, myNets, profiles.hist04,
        reputation.bigProviders,
        minBytes = c.getLong("atypicalData.minBytes", 5737418240L))),
      "alienNetworkAtypicalPorts" -> (() =>
        Detectors.alienNetworkAtypicalPorts(summary, myNets, profiles.hist05)),
      "alien" -> (() => Detectors.alienAccess(summary, myNets,
        minPairs = c.getInt("alien.minPairs", 20))),
      "UDPAmplifier" -> (() => Detectors.udpAmplifier(summary,
        minPkts = c.getInt("UDPAmplifier.minPktsPerFlow", 2000))),
      "abusedSMTP" -> (() => Detectors.abusedSmtp(summary,
        minBytes = c.getLong("abusedSMTP.minBytes", 50000000L))),
      "dnsTunnel" -> (() => Detectors.dnsTunnel(summary,
        minBytes = c.getLong("dnsTunnel.minBytes", 25000000L))),
      "ICMPTunnel" -> (() => Detectors.icmpTunnel(summary,
        minPktSize = c.getInt("ICMPTunnel.minPacket", 200),
        minBytes = c.getLong("ICMPTunnel.minBytes", 100000000L))),
      "hPortScan" -> (() => Detectors.hPortScan(summary, myNets, profiles.hist07,
        profiles.hist01, p2pHosts,
        minPairsPort = c.getInt("hPortScan.minFlows", 100),
        excludeAlienPorts = c.getSetString("hPortScan.excludeAlienPorts",
          Set("80", "443", "53")).toSeq.sorted)),
      "vPortScan" -> (() => Detectors.vPortScan(summary, myNets, profiles.hist08, p2pHosts,
        minPorts = c.getInt("vPortScan.minPorts", 3),
        maxPortNumber = c.getInt("vPortScan.maxPortNumber", 1024))),
      "DDoS" -> (() => Detectors.ddos(summary,
        minFlows = c.getInt("DDoS.minFlows", 50),
        minPairs = c.getInt("DDoS.minPairs", 20))),
      "BotNet" -> (() => Detectors.botnetCC(summary, blacklist,
        minPktsPerFlow = c.getInt("BotNet.minPktsPerFlow", 20))),
      "osDiscovery" -> (() => Detectors.osDiscovery(summary, osRepos)),
    )
    val enabled = detectorRuns.filterNot { case (section, _) => c.isDisabled(section) }
      .map { case (section, build) => excluding(section)(build()) }
    // the alert union, pinned after p2p so its cached plan reads the p2p
    // pin; every section disabled → an empty frame with the alert schema
    val bare = pins.cache(enabled.reduceOption(_ union _)
      .getOrElse(detectorRuns.head._2().limit(0)))

    // alert payloads: bounded top-K rendered flow lists for every alerted
    // host (HogSFlow.scala:662-713) — my_ip-keyed alerts get the local
    // host's flows, alien-only alerts (e.g. alienAccess) the alien's
    val flowListLimit = c.getInt("alert.maxFlowList", Detectors.FlowListLimit)
    val detailMy = Detectors.flowDetail(summary, bare.filter(col("my_ip").isNotNull),
      "my_ip", flowListLimit)
    val detailAlien = Detectors.flowDetail(summary,
      bare.filter(col("my_ip").isNull && col("alien_ip").isNotNull), "alien_ip", flowListLimit)
      .withColumnRenamed("flows_detail", "flows_detail_alien")
    // event-row fidelity (HogEvent.scala:61-82): every alert carries the
    // reference's numeric signature (id/title/priority — broadcast join
    // against the in-code catalog) plus the ports/username/coords columns
    // the events table schema has. Flow alerts never carry username/coords
    // (only the auth pipeline populates them — HogAuth.scala:414-432), so
    // they are typed nulls here; osDiscovery keeps a null signature_id
    // because the reference routes OS findings to inventory, not events.
    val withDetail = bare
      .join(detailMy, Seq("my_ip"), "left")
      .join(detailAlien, Seq("alien_ip"), "left")
      .withColumn("flows", coalesce(col("flows_detail"), col("flows_detail_alien")))
      .drop("flows_detail", "flows_detail_alien")
      .join(broadcast(SignatureCatalog.detectorLookup(spark)), Seq("detector"), "left")
      .withColumn("title", col("signature_name"))
      .withColumn("priority", col("signature_priority"))
      .withColumn("username", lit(null).cast("string"))
      .withColumn("coords", lit(null).cast("string"))
      // alert creation time (HogEvent.scala:68 writes currentTimeMillis);
      // wall-clock by design — detector QUERIES never select it, so the
      // oracle surface stays deterministic
      .withColumn("time", unix_millis(current_timestamp()))
      .select("signature_id", "detector", "title", "priority", "time",
        "my_ip", "alien_ip", "metric", "n_flows", "note", "ports",
        "username", "coords", "flows")

    // learn pass: current-window histograms merged into the profiles
    // (decayed weighted mean, cold-start-safe) — S6's delete+put upsert
    // becomes one atomic state overwrite per family
    def currentHist(keyCol: String, bucketCol: org.apache.spark.sql.Column) =
      HistogramFunctions.buildHistogram(
        summary.groupBy(col(keyCol).as("name"), bucketCol.as("bucket"))
          .agg(count(lit(1)).as("cnt")),
        Seq("name"))
    val hist02Cur = Detectors.hist02Current(summary)
      .withColumnRenamed("my_ip", "name")
    val updated = ProfileTables(
      hist01 = ProfileStore.update(profiles.hist01,
        currentHist("my_ip", col("my_port"))),
      hist02 = ProfileStore.update(profiles.hist02, hist02Cur),
      hist02snap = ProfileStore.snapshot(profiles.hist02snap, hist02Cur),
      hist03 = ProfileStore.update(profiles.hist03,
        HistogramFunctions.buildHistogram(
          summary.groupBy("my_ip").agg(countDistinct("alien_ip").as("pairs"))
            .select(col("my_ip").as("name"),
              HistogramFunctions.logBin(col("pairs").cast("double")).cast("string").as("bucket"),
              lit(1L).as("cnt")),
          Seq("name"))),
      hist04 = ProfileStore.update(profiles.hist04,
        HistogramFunctions.buildHistogram(
          summary.groupBy("my_ip")
            .agg(sum(col("bytes_up") * col("sample_rate")).as("up"))
            .select(col("my_ip").as("name"),
              HistogramFunctions.logBin(col("up").cast("double")).cast("string").as("bucket"),
              lit(1L).as("cnt")),
          Seq("name"))),
      hist05 = ProfileStore.update(profiles.hist05,
        Detectors.hist05Current(summary, myNets)),
      hist06 = ProfileStore.update(profiles.hist06,
        Detectors.hist06Current(summary, myNets)),
      hist07 = ProfileStore.updateMax(profiles.hist07,
        Detectors.hist07Current(summary, p2pHosts)),
      hist08 = ProfileStore.update(profiles.hist08,
        Detectors.hist08Current(summary, p2pHosts)))
    (withDetail, updated, reputation, () => pins.release())
  }
}
