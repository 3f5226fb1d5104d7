package graft.detectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Detection, GraftConfig}
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
  *  - the flow summary: the key families, the sections that keep their
  *    own aggregate, the alert payloads and the HIST05/HIST06 builds;
  *  - the key families ([[Detectors]] scaladoc): host, contacts (which
  *    the pair and alien-port families roll up), pair, alien port, served
  *    port and alien net. Each is one aggregate read by several sections
  *    and learn inputs;
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
  * recomputes (see [[Pin]]). They are shaped for their readers:
  *  - The summary comes hash-partitioned by `my_ip` ([[FlowSummary]]'s
  *    output contract) and is pinned eagerly, before any frame over it is
  *    built. Under AQE a cached plan reports `UnknownPartitioning` until it
  *    has run, so a lazy pin would leave every host-keyed aggregate (the
  *    families, `p2p`, the learn pass) shuffling its slice of the summary
  *    again. With the filled pin they run in place: on the sflow_batch
  *    benchmark window the batch planned 44 shuffle exchanges (and one
  *    rebalance per profile table, below), none in `p2p`, against 116
  *    over a lazy pin of an unpartitioned summary.
  *  - The families keyed by `my_ip` keep that partitioning, and are
  *    pinned eagerly for the same reason: their readers join and group
  *    them by host in place. Lazy family pins, measured on the traced
  *    sflow_batch seed-1 call, put an exchange back into the learn pass
  *    (hist01 plans three shuffles instead of two) and raise the alert
  *    write from 56 to 70 jobs; the eager fills cost five jobs of their
  *    own. The alien-net family is keyed by network, so every reader
  *    shuffles it anyway; it is pinned lazily.
  *  - The alert union is one partition. Alert rows scale with the alerted
  *    hosts, not the samples, so one task holds them easily. Its readers then
  *    read one partition whose task stops at a shuffle boundary, instead
  *    of every task deserializing the 19 detector subplans. The returned
  *    alerts are one partition too (coalesced after the detail joins,
  *    which shuffle the union by host once the flow details outgrow a
  *    broadcast), so the event sink gets one file per batch.
  * The trade-off: one hot local host now lands in one partition for every
  * host-keyed aggregate over the summary, where before only the final
  * merge of each aggregate was per key. On a 4-core run of 1M samples in
  * which one local server carries 40% of the flows the batch was still
  * faster (63-89 s against 85-110 s) with the same alerts; with many
  * more cores the hot host's task would weigh more and is unmeasured.
  * The learned profile tables would keep the summary's partitions too,
  * which AQE cannot coalesce (a cached scan is not a shuffle), so they
  * come back rebalanced: a writer gets files sized by the tables' bytes,
  * not one per `spark.sql.shuffle.partitions`.
  *
  * Pinning the reputation lists and `p2pHosts` as well was measured on
  * the sflow_batch benchmark and gained nothing, so they stay unpinned.
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
      hist08: DataFrame) {   // distinct-port-count distribution per host
    /** The tables in [[ProfileTables.Names]] order. */
    def toSeq: Seq[DataFrame] = Seq(hist01, hist02, hist02snap, hist03, hist04, hist05,
      hist06, hist07, hist08)
    def map(f: DataFrame => DataFrame): ProfileTables = ProfileTables.fromSeq(toSeq.map(f))
  }

  object ProfileTables {
    /** The tables' names, which are also their state directories, in field
      * order.
      */
    val Names: Seq[String] = Seq("hist01", "hist02", "hist02snap", "hist03", "hist04",
      "hist05", "hist06", "hist07", "hist08")

    /** The tables from a sequence in [[Names]] order. */
    def fromSeq(t: Seq[DataFrame]): ProfileTables = {
      require(t.size == Names.size, s"${t.size} profile tables, expected ${Names.size}")
      ProfileTables(t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8))
    }
  }

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
    * summary, the key families, `p2p` and the alert union), blocking
    * until the blocks are gone; call it after materializing the outputs
    * (in a `finally`, so a failed write does not leave the pins cached in
    * a long-lived session). The returned frames stay usable after it: they
    * recompute.
    *
    * `config` is read once, as a [[Detection]]: every threshold below is
    * one of its fields, the sections run in [[Detection.Sections]] order,
    * a disabled section never builds its plan, and each section's
    * exclusion list with the general one suppresses alerts for the listed
    * IPs (a broadcast-literal isin filter — exclusion sets are
    * config-sized, never data-sized).
    */
  def run(spark: SparkSession, samples: DataFrame, myNets: Seq[String],
      profiles: ProfileTables, blacklist: DataFrame, osRepos: DataFrame,
      config: GraftConfig = GraftConfig.empty)
      : (DataFrame, ProfileTables, ReputationLists, () => Unit) = {
    val d = Detection.fromConfig(config)

    // run-scoped pins, dropped by release() dependents first (newest
    // first): a pin uncached before the pins planned over it would make
    // Spark re-plan those that never materialized
    val pins = Pin.scope()

    // eager, before any frame over it is built (scaladoc above)
    val summary = pins.cache(FlowSummary.summarize(samples, myNets), eager = true)

    // the key families (Detectors scaladoc), each pinned after the pins it
    // reads; the my_ip-keyed ones eagerly, like the summary
    def family(df: DataFrame) = pins.cache(df, eager = true)
    val host = family(Detectors.hostFeatures(summary, myNets,
      udpMinPkts = d.udpMinPktsPerFlow, icmpMinPktSize = d.icmpMinPacket))
    val contacts = family(Detectors.contacts(summary,
      mediaMinDuration = d.mediaMinDuration, mediaMaxDuration = d.mediaMaxDuration,
      mediaExcludePorts = d.mediaExcludePorts.toSeq.sorted,
      vScanMaxPort = d.vScanMaxPortNumber, minPktsPerFlow = d.alienPortsMinPacketsPerFlow))
    val pair = family(Detectors.pairFeatures(contacts))
    val alienPort = family(Detectors.alienPortFeatures(contacts))
    val servedPort = family(Detectors.servedPortFeatures(summary))
    val alienNet = pins.cache(Detectors.alienNetFeatures(summary, myNets))

    // reference semantics (HogSFlow.scala:173-189): per-detector
    // exclusions extend the general list and suppress alerts keyed to an
    // excluded host — LOCAL or ALIEN (the reference also drops flows whose
    // alien IP is listed, HogSFlow.scala:1159-1160, 1230-1231). Applied at
    // alert level here; the one semantic delta vs the reference's
    // flow-level p2p filter is that an excluded alien's flows still count
    // toward a local host's p2p aggregates (they only stop producing
    // alerts KEYED to the excluded IP).
    def excluding(section: String)(alerts: DataFrame): DataFrame = {
      val ex = d.excludedIPs(section)
      if (ex.isEmpty) alerts
      else alerts.filter((col("my_ip").isNull || !col("my_ip").isin(ex: _*)) &&
        (col("alien_ip").isNull || !col("alien_ip").isin(ex: _*)))
    }

    // derived exclusion sets first (the reference's detector DAG)
    val p2p = pins.cache(excluding("p2p")(Detectors.p2pTalkers(summary, myNets,
      Detectors.ftpTalkerPairs(pair), Detectors.ftpServers(host),
      minPairs = d.p2pMinPairs, minPorts = d.p2pMinPorts, minPairs2 = d.p2pMinPairs2nd,
      minPorts2 = d.p2pMinPorts2nd, minBytes2 = d.p2pMinBytes2nd)))
    val p2pHosts = p2p.select(col("my_ip")).distinct()

    // pass 1: intra-run reputation (HogSFlow.scala:1486, 2029)
    val reputation = ReputationLists(
      proxies = Detectors.proxyServers(servedPort),
      bigProviders = Detectors.bigProviders(alienNet, minBytes = d.bigProvidersMinBytes))

    // hPortScan's ports, which the HIST07 learn pass excludes too
    val hScanExcluded = d.hScanExcludeAlienPorts.toSeq.sorted

    // the current-window frames a detector and a learner both read
    val hist02Cur = Detectors.hist02Current(alienPort)
    val hist05Cur = Detectors.hist05Current(summary, alienNet, myNets)
    val hostPairs = Detectors.hostPairs(pair)

    // pass 2: the standing detectors, profile-relative where the
    // reference's are (HIST01/02/02.1/03/04/05/07/08), each built lazily
    // so that a disabled section never even constructs its plan
    val sections: Map[String, () => DataFrame] = Map(
      "topTalkers" -> (() => Detectors.topTalkers(host)),
      "SMTPTalkers" -> (() => Detectors.smtpTalkers(host, profiles.hist01, profiles.hist02,
        minBytes = d.smtpMinBytes)),
      "p2p" -> (() => p2p),
      "mediaStreaming" -> (() => Detectors.mediaStreamingClients(pair, myNets, p2pHosts,
        maxUpload = d.mediaMaxUploadBytes, minDownload = d.mediaMinDownloadBytes)),
      "atypicalPorts" -> (() => Detectors.atypicalPorts(servedPort, profiles.hist01,
        reputation.proxies, excludePorts = d.atypicalPortsExcludePorts.toSeq.sorted)),
      "atypicalAlienPorts" -> (() => Detectors.atypicalAlienPorts(contacts, hist02Cur, myNets,
        profiles.hist02, profiles.hist02snap, profiles.hist01, profiles.hist05)),
      "atypicalPairs" -> (() => Detectors.atypicalPairs(hostPairs, profiles.hist03,
        minPairs = d.atypicalPairsMinPairs)),
      "atypicalData" -> (() => Detectors.atypicalData(summary, myNets, profiles.hist04,
        reputation.bigProviders, minBytes = d.atypicalDataMinBytes)),
      "alienNetworkAtypicalPorts" -> (() =>
        Detectors.alienNetworkAtypicalPorts(hist05Cur, profiles.hist05)),
      "alien" -> (() => Detectors.alienAccess(summary, myNets, minPairs = d.alienMinPairs)),
      "UDPAmplifier" -> (() => Detectors.udpAmplifier(host)),
      "abusedSMTP" -> (() => Detectors.abusedSmtp(pair, minBytes = d.abusedSmtpMinBytes)),
      "dnsTunnel" -> (() => Detectors.dnsTunnel(host, minBytes = d.dnsTunnelMinBytes)),
      "ICMPTunnel" -> (() => Detectors.icmpTunnel(host, minBytes = d.icmpMinBytes)),
      "hPortScan" -> (() => Detectors.hPortScan(alienPort, myNets, profiles.hist07,
        profiles.hist01, p2pHosts, minPairsPort = d.hScanMinFlows,
        excludeAlienPorts = hScanExcluded)),
      "vPortScan" -> (() => Detectors.vPortScan(pair, myNets, profiles.hist08, p2pHosts,
        minPorts = d.vScanMinPorts)),
      "DDoS" -> (() => Detectors.ddos(summary, hostPairs,
        minFlows = d.ddosMinFlows, minPairs = d.ddosMinPairs)),
      "BotNet" -> (() => Detectors.botnetCC(summary, blacklist,
        minPktsPerFlow = d.botnetMinPktsPerFlow)),
      "osDiscovery" -> (() => Detectors.osDiscovery(summary, osRepos)))
    val enabled = Detection.Sections.map(_.name).filter(d.enabled)
      .map(section => excluding(section)(sections(section)()))
    // the alert union, pinned after p2p so its cached plan reads the p2p
    // pin, in one partition (scaladoc above); every section disabled → an
    // empty frame with the alert schema
    val bare = pins.cache(enabled.reduceOption(_ union _)
      .getOrElse(sections(Detection.Sections.head.name)().limit(0)).repartition(1))

    // alert payloads: bounded top-K rendered flow lists for every alerted
    // host (HogSFlow.scala:662-713) — my_ip-keyed alerts get the local
    // host's flows, alien-only alerts (e.g. alienAccess) the alien's
    val detailMy = Detectors.flowDetail(summary, bare.filter(col("my_ip").isNotNull),
      "my_ip", d.maxFlowList)
    val detailAlien = Detectors.flowDetail(summary,
      bare.filter(col("my_ip").isNull && col("alien_ip").isNotNull), "alien_ip", d.maxFlowList)
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
      // one partition, so a batch appends one file to the event sink even
      // when the detail joins above re-shuffle the union by host
      .coalesce(1)

    // learn pass: current-window histograms merged into the profiles
    // (decayed weighted mean, cold-start-safe) — S6's delete+put upsert
    // becomes one atomic state overwrite per family
    def logBinned(perHost: DataFrame, x: String) = HistogramFunctions.buildHistogram(
      perHost.select(col("my_ip").as("name"), Detectors.logBinKey(col(x)).as("bucket"),
        lit(1L).as("cnt")),
      Seq("name"))
    val learned = ProfileTables(
      hist01 = ProfileStore.update(profiles.hist01, HistogramFunctions.buildHistogram(
        servedPort.select(col("my_ip").as("name"), col("my_port").as("bucket"),
          col("nf_port").as("cnt")),
        Seq("name"))),
      hist02 = ProfileStore.update(profiles.hist02, hist02Cur),
      hist02snap = ProfileStore.snapshot(profiles.hist02snap, hist02Cur),
      hist03 = ProfileStore.update(profiles.hist03, logBinned(hostPairs, "pairs")),
      hist04 = ProfileStore.update(profiles.hist04, logBinned(host, "up")),
      hist05 = ProfileStore.update(profiles.hist05, hist05Cur),
      hist06 = ProfileStore.update(profiles.hist06,
        Detectors.hist06Current(summary, alienNet, myNets)),
      hist07 = ProfileStore.updateMax(profiles.hist07,
        Detectors.hist07Current(alienPort, p2pHosts, d.hScanMinFlows, hScanExcluded)),
      hist08 = ProfileStore.update(profiles.hist08,
        Detectors.hist08Current(pair, p2pHosts, d.vScanMinPorts)))
    // rebalanced so AQE sizes their files (scaladoc above)
    (withDetail, learned.map(_.hint("rebalance")), reputation, () => pins.release())
  }
}
