package graft.detectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Detection
import graft.functions.HistogramFunctions
import graft.functions.NetFunctions
import graft.operators.ProfileStore

/** Raw render inputs buffered by [[Detectors.flowDetail]]'s top-K
  * aggregate — the payload type of its
  * [[graft.operators.Aggregators.TopKPayloadAggregator]]. Numeric fields
  * are Options so a null source column survives the encoder round-trip
  * and nullifies only the rendered line (exactly what the old
  * whole-line-concat did), never the aggregate.
  */
case class FlowLineFields(myIp: String, myPort: String, alienIp: String,
    alienPort: String, proto: String, direction: Option[Long],
    status: Option[Long], upB: Option[Double], downB: Option[Double],
    pkts: Option[Long], durS: Option[Long], rate: Option[Long])

/** The reference's standing detectors (SURVEY §2.4 A3/A4, §2.3 J2-J4,
  * §2.6 O1/O2, §2.8 F9) as pure `DataFrame → DataFrame` functions over
  * the [[FlowSummary]] output. Thresholds mirror the reference's config
  * defaults (`HogSFlow.scala:118-151`); every detector takes them as
  * parameters so a config file can override, and each is independently
  * disable-able by simply not calling it (HogzillaBatch sequences the DAG).
  *
  * Key families. Most sections and learn inputs are a threshold over a
  * per-key rollup of the summary, so the rollups are computed once per
  * key, with conditional columns (`sum(when(c, x))`, `count_if(c)`), and
  * each section is a projection, a threshold and a top-k over its family:
  *  - host (`my_ip`, [[hostFeatures]]): topTalkers, smtpTalkers,
  *    udpAmplifier, dnsTunnel, icmpTunnel, [[ftpServers]] and the HIST04
  *    learn input;
  *  - pair (`my_ip`, `alien_ip`, [[pairFeatures]]): mediaStreaming,
  *    abusedSmtp, vPortScan and HIST08, [[ftpTalkerPairs]], and through
  *    [[hostPairs]] atypicalPairs, DDoS's flow and partner counts and
  *    HIST03;
  *  - alien port (`my_ip`, `alien_port`, [[alienPortFeatures]]):
  *    hPortScan and HIST07, atypicalAlienPorts and HIST02/HIST02.1;
  *  - served port (`my_ip`, `my_port`, [[servedPortFeatures]]):
  *    proxyServers, atypicalPorts and HIST01;
  *  - alien net (`/24`, [[alienNetFeatures]]): bigProviders and the
  *    eligible networks of HIST05 and HIST06.
  *
  * The pair and alien-port families both roll up one [[contacts]]
  * aggregate (`my_ip`, `alien_ip`, `alien_port`): the distinct counts
  * they need (alien ports per pair, aliens per port) are counts of its
  * rows. Distinct counts are built this way, as a count over a finer
  * rollup, and not as `countDistinct` in a family with other aggregates:
  * two distinct columns make Spark plan an `Expand` (a copy of every row
  * per distinct column and one more, then shuffles that lose the
  * summary's `my_ip` partitioning), and one makes it sum the other
  * columns per distinct value first, which would change the
  * double-valued byte sums. Those sums are direct
  * aggregates over summary rows; the one that passes through the contact
  * level (abusedSmtp's bytes) is keyed by port 25, so exactly one contact
  * holds each pair's sum. The alien-net family has one distinct count
  * and a `max`, which no grouping order changes.
  *
  * Sections that join or window before they group keep their own
  * aggregate: atypicalData (anti-joins the BigProvider networks per
  * flow), botnetCC (prefix join), osDiscovery (repo join), DDoS's gap
  * window, alienAccess (keyed by `alien_ip`, no family shares it), the
  * HIST05/HIST06 builds (semi-join the eligible networks) and p2pTalkers'
  * per-pair rollup (its port sets would make the pair family an object
  * aggregate).
  *
  * Profile comparisons. Each HIST-relative section joins one current-window
  * frame to [[ProfileStore.mature]]: the profiles at or past their
  * cold-start threshold, as (key, `profile`). A younger profile only
  * learns. Each threshold is a parameter of its section and is passed only
  * to that operator:
  *  - atypicalPorts: its served-port histogram vs HIST01 (100), through
  *    [[ProfileStore.atypicalAlerts]];
  *  - atypicalAlienPorts: [[hist02Current]] vs HIST02 (100) and a
  *    non-empty HIST02.1 snapshot (1), confirmed by the alien's HIST01 or
  *    HIST05 (21);
  *  - atypicalPairs: the [[logBinKey]] of [[hostPairs]]' partner count vs
  *    HIST03 (100);
  *  - atypicalData: the [[logBinKey]] of its upload volume vs HIST04 (100);
  *  - alienNetworkAtypicalPorts: [[hist05Current]] vs HIST05 (1000),
  *    through [[ProfileStore.atypicalAlerts]];
  *  - hPortScan: its scanned ports vs HIST07 (100);
  *  - vPortScan: its scanning pairs vs HIST08 (10).
  * [[HogzillaBatch]] builds [[hist02Current]], [[hist05Current]] and
  * [[hostPairs]] once per batch and hands each to its section and to its
  * profile's learner (hostPairs also to DDoS); the HIST03/HIST04 learners
  * bucket by [[logBinKey]] too. smtpTalkers and hPortScan's port-25 rule
  * read HIST01/HIST02 at any size, as the reference does.
  *
  * Scale notes baked in:
  *  - per-alert flow detail is a bounded top-K hash aggregate
  *    (O(limit) state per key, map-side combining), never an unbounded
  *    collected set (SURVEY §7.4 risk 2);
  *  - derived exclusion sets (ftpTalkers, p2pTalkers, …) stay DataFrames
  *    and exclude via left_anti joins — no collect/re-broadcast cycles
  *    (SURVEY §3.1 step 5's driver round-trips disappear);
  *  - every rollup is a hash aggregation with map-side partial combine.
  *
  * Alert schema: (detector, my_ip, alien_ip?, metric, n_flows, note,
  * ports?) — `ports` is the reference's rendered port field
  * (HogEvent.scala:70 `event.ports`), populated by the same four
  * detectors that set it there (HogSFlow.scala:269,295,381,553).
  */
object Detectors {

  /** The compiled-in settings, which name every parameter default below
    * that is a conf key.
    */
  private val Defaults = Detection.default

  val FlowListLimit: Int = Defaults.maxFlowList

  private def alert(detector: String, myIp: Column, alienIp: Column,
      metric: Column, nFlows: Column, note: Column,
      ports: Column = lit(null).cast("string")): Seq[Column] = Seq(
    lit(detector).as("detector"), myIp.as("my_ip"), alienIp.as("alien_ip"),
    metric.cast("double").as("metric"), nFlows.cast("long").as("n_flows"), note.as("note"),
    ports.as("ports"))

  /** Effective (sampled) bytes both ways. */
  private val scaledBytes: Column =
    (col("bytes_up") + col("bytes_down")) * col("sample_rate")

  /** The narrow raw-field struct [[flowDetail]] buffers per top-K
    * candidate: just the columns the line render needs, with the scalar
    * arithmetic (effective bytes, duration, rate truncation) pre-folded.
    * Building this struct per input row is a handful of column copies;
    * the EXPENSIVE part of the render — humanBytes formatting and the
    * ~10-element concat — runs only over the ≤limit winners in
    * [[renderLine]].
    */
  private def flowFields: Column = struct(
    col("my_ip").cast("string").as("myIp"),
    col("my_port").cast("string").as("myPort"),
    col("alien_ip").cast("string").as("alienIp"),
    col("alien_port").cast("string").as("alienPort"),
    col("proto").cast("string").as("proto"),
    col("direction").cast("long").as("direction"),
    col("status").cast("long").as("status"),
    (col("bytes_up") * col("sample_rate")).cast("double").as("upB"),
    (col("bytes_down") * col("sample_rate")).cast("double").as("downB"),
    col("n_pkts").cast("long").as("pkts"),
    (col("t_max") - col("t_min")).cast("long").as("durS"),
    col("sample_rate").cast("long").as("rate"))

  /** One rendered flow line (setFlows2String, HogSFlow.scala:662-686)
    * from a [[flowFields]] struct element: orientation arrow from the
    * summed direction vote, status marker, humanBytes with the Up/Down
    * labels swapped for reversed flows. Runs inside a `transform` lambda
    * over the top-K winners — after selection, never over the full
    * summary stream.
    */
  private def renderLine(f: Column): Column = {
    val up = NetFunctions.humanBytes(f.getField("upB"))
    val down = NetFunctions.humanBytes(f.getField("downB"))
    val d = f.getField("direction")
    val arrow = when(d > 0, lit(" => "))
      .when(d < 0, lit(" <= ")).otherwise(lit(" <?> "))
    val body = when(d > 0, concat(lit("Up: "), up, lit(", Down: "), down))
      .when(d < 0, concat(lit("Down: "), up, lit(", Up: "), down))
      .otherwise(concat(lit("L-to-R: "), up, lit(", R-to-L: "), down))
    concat(f.getField("myIp"), lit(":"), f.getField("myPort"), arrow,
      f.getField("alienIp"), lit(":"), f.getField("alienPort"),
      when(f.getField("status") > 0, lit(" [!]")).otherwise(lit("")),
      lit(" ("), f.getField("proto"), lit(", "), body,
      lit(", "), f.getField("pkts"), lit(" pkts, duration: "),
      f.getField("durS"),
      lit("s, sampling: 1/"), f.getField("rate"), lit(")"))
  }

  /** Per-alert rendered flow list (HogSFlow.scala:662-713): the alerted
    * key's flows ordered by raw two-way bytes (the reference's sort),
    * capped at `limit` BEFORE any list materializes — a bounded top-K
    * AGGREGATE keeps per-group state O(limit) where the reference
    * buffered the whole flowSet in a driver HashSet. Returns
    * (keyCol, flows_detail).
    *
    * Why an Aggregator and not a row_number window: the window form
    * (even with InsertWindowGroupLimit's map-side partial pass) SORTS
    * each map task's entire flow stream before limiting — 7.9 GB of
    * externalized sort at the 100× fixture, the last non-contract
    * production spiller. [[graft.operators.Aggregators.TopKPayloadAggregator]]
    * is a hash aggregate with map-side combining: per-task state is an
    * O(limit) buffer per alerted key, nothing sorts the input, nothing
    * spills regardless of how hot a key is. The tiebreak column is the
    * window's old order tuple (alien_ip, alien_port, my_ip, my_port,
    * proto) joined with a \\u0001 separator — lexicographically identical to the
    * column-wise comparison for these ASCII fields — so the rendered
    * order is bit-for-bit the old window order.
    *
    * The aggregate buffers the NARROW raw-field struct
    * ([[FlowLineFields]]), not the rendered line: humanBytes formatting
    * and the ~10-element concat run in a `transform` lambda over the
    * ≤limit winners after selection. Rendering inside the aggregate
    * formatted the whole summary stream and cost GraftApp a measured
    * +14% end-to-end at the 100× fixture.
    *
    * The key semi-join MUST broadcast: `keys` is an alerted-host set,
    * bounded by the per-detector alert caps (take(100)/take(30) in the
    * reference) — letting it plan as a sort-merge join would exchange
    * the WHOLE summary on the key column (tens of distinct hosts → that
    * many active partitions, a full-data skewed sort) before the
    * aggregate's own map-side combine can bound anything (measured at
    * 50× on the window form: 37 s with the SMJ in the way, 6 s
    * broadcast).
    */
  def flowDetail(summary: DataFrame, keys: DataFrame, keyCol: String = "my_ip",
      limit: Int = FlowListLimit): DataFrame = {
    val topk = udaf(
      new graft.operators.Aggregators.TopKPayloadAggregator[FlowLineFields](limit))
    // null tie fields coalesce to "" (sorts first -- matching the old
    // column-wise window order's nulls-first) rather than being silently
    // SKIPPED by concat_ws, which would merge adjacent fields
    val tie = concat_ws("\u0001",
      Seq("alien_ip", "alien_port", "my_ip", "my_port", "proto")
        .map(c => coalesce(col(c).cast("string"), lit(""))): _*)
    // a null byte sum sorts last (Long.MinValue) -- the DESC-nulls-last
    // order of the old window form
    val sortKey = coalesce((col("bytes_up") + col("bytes_down")).cast("long"),
      lit(Long.MinValue))
    summary
      .join(broadcast(keys.select(keyCol).distinct()), Seq(keyCol), "left_semi")
      .groupBy(col(keyCol))
      .agg(topk(sortKey, tie, flowFields).as("win"))
      .select(col(keyCol),
        concat_ws("\n", transform(col("win"), renderLine _)).as("flows_detail"))
  }

  // ------------------------------------------------------------ key families

  /** The host family: one row per local host. Each section's row filter
    * is a conditional column, so every sum runs over the same summary
    * rows, in the same order, as the section's own filtered aggregate did.
    * `udpMinPkts`/`ampPorts` and `icmpMinPktSize` are udpAmplifier's and
    * icmpTunnel's row filters.
    */
  def hostFeatures(summary: DataFrame, myNets: Seq[String],
      udpMinPkts: Int = Defaults.udpMinPktsPerFlow,
      ampPorts: Seq[String] = Seq("19", "53", "123", "161", "389", "1900"),
      icmpMinPktSize: Int = Defaults.icmpMinPacket): DataFrame = {
    val smtp = col("alien_port") === "25" && col("n_pkts") > 3 &&
      !FlowSummary.isLocalIp(col("alien_ip"), myNets)
    val udp = col("proto") === "17" && col("my_port").isin(ampPorts: _*) &&
      col("n_pkts") > udpMinPkts
    val dns = col("alien_port") === "53" || col("my_port") === "53"
    val icmp = col("proto").isin("1", "58") &&
      (col("bytes_up") + col("bytes_down")) / col("n_pkts") > icmpMinPktSize
    summary.groupBy("my_ip")
      .agg(count(lit(1)).as("nf"), sum(col("bytes_up") * col("sample_rate")).as("up"),
        sum(when(smtp, scaledBytes)).as("smtp_bytes"),
        sum(when(smtp, col("n_pkts"))).as("smtp_pkts"), count_if(smtp).as("smtp_nf"),
        sum(when(udp, col("n_pkts"))).as("udp_pkts"), count_if(udp).as("udp_nf"),
        sum(when(dns, scaledBytes)).as("dns_bytes"), count_if(dns).as("dns_nf"),
        sum(when(icmp, scaledBytes)).as("icmp_bytes"), count_if(icmp).as("icmp_nf"),
        count_if(col("my_port") === "21").as("ftp_nf"))
  }

  /** The rollup per (my_ip, alien_ip, alien_port) that [[pairFeatures]]
    * and [[alienPortFeatures]] sum up, with every row filter those
    * families need as a conditional column: mediaStreaming's
    * (`media*`: port not excluded, duration in range), abusedSmtp's
    * (port 25), vPortScan's probes (`vscan_nf`: to a port below
    * `vScanMaxPort` from an ephemeral port, <5 packets), FTP
    * (`ftp_nf`), HIST02's outbound flows (`out_nf`: direction > 0, more
    * than `minPktsPerFlow` packets) and hPortScan's probes (`probe_nf`:
    * <5 packets).
    */
  def contacts(summary: DataFrame, mediaMinDuration: Int = Defaults.mediaMinDuration,
      mediaMaxDuration: Int = Defaults.mediaMaxDuration,
      mediaExcludePorts: Seq[String] = Defaults.mediaExcludePorts.toSeq.sorted,
      vScanMaxPort: Int = Defaults.vScanMaxPortNumber,
      minPktsPerFlow: Int = Defaults.alienPortsMinPacketsPerFlow): DataFrame = {
    val media = !col("alien_port").isin(mediaExcludePorts: _*) &&
      (col("t_max") - col("t_min")).between(mediaMinDuration, mediaMaxDuration)
    val smtp = col("alien_port") === "25"
    summary.groupBy("my_ip", "alien_ip", "alien_port")
      .agg(count(lit(1)).as("nf"),
        sum(when(media, col("bytes_up"))).as("media_up"),
        sum(when(media, col("bytes_down"))).as("media_down"), count_if(media).as("media_nf"),
        sum(when(smtp, scaledBytes)).as("smtp_bytes"), count_if(smtp).as("smtp_nf"),
        count_if(col("alien_port").cast("int") < vScanMaxPort &&
          col("my_port").cast("int") > 1023 && col("n_pkts") < 5).as("vscan_nf"),
        count_if(col("my_port") === "21" || col("alien_port") === "21").as("ftp_nf"),
        count_if(col("direction") > 0 && col("n_pkts") > minPktsPerFlow).as("out_nf"),
        count_if(col("n_pkts") < 5).as("probe_nf"))
  }

  /** The pair family from [[contacts]]: one row per (my_ip, alien_ip).
    * `vscan_ports` is the number of distinct alien ports the pair probed.
    */
  def pairFeatures(contacts: DataFrame): DataFrame =
    contacts.groupBy("my_ip", "alien_ip")
      .agg(sum("nf").as("nf"), sum("media_up").as("media_up"),
        sum("media_down").as("media_down"), sum("media_nf").as("media_nf"),
        sum("smtp_bytes").as("smtp_bytes"), sum("smtp_nf").as("smtp_nf"),
        count_if(col("vscan_nf") > 0).as("vscan_ports"), sum("vscan_nf").as("vscan_nf"),
        sum("ftp_nf").as("ftp_nf"))

  /** Distinct partners (`pairs`) and flows (`nf`) per host, from the pair
    * family: atypicalPairs', DDoS's and HIST03's input.
    */
  def hostPairs(pair: DataFrame): DataFrame =
    pair.groupBy("my_ip").agg(count("alien_ip").as("pairs"), sum("nf").as("nf"))

  /** The alien-port family from [[contacts]]: one row per (my_ip,
    * alien_port). `probe_aliens` is the number of distinct aliens probed
    * on the port.
    */
  def alienPortFeatures(contacts: DataFrame): DataFrame =
    contacts.groupBy("my_ip", "alien_port")
      .agg(sum("out_nf").as("out_nf"), sum("probe_nf").as("probe_nf"),
        count_if(col("probe_nf") > 0 && col("alien_ip").isNotNull).as("probe_aliens"))

  /** The served-port family: per (my_ip, my_port), how many distinct alien
    * ports hit it and how many of them are well-known (<1024), its flows,
    * its served flows (direction < 0) and those with more than
    * `minPktsPerFlow` packets (`listen_nf`, atypicalPorts' HIST01 count).
    * The reference computes these inside the atypicalPorts filter closure
    * (HogSFlow.scala:1440-1478). The distinct counts are counts of the
    * rows of a rollup per alien port (object scaladoc).
    */
  def servedPortFeatures(summary: DataFrame, minPktsPerFlow: Int = 2): DataFrame =
    summary.groupBy("my_ip", "my_port", "alien_port")
      .agg(count(lit(1)).as("nf"), count_if(col("direction") < 0).as("served_nf"),
        count_if(col("direction") < 0 && col("n_pkts") > minPktsPerFlow).as("listen_nf"))
      .groupBy("my_ip", "my_port")
      .agg(count("alien_port").as("qtd_alien_ports"),
        count_if(col("alien_port").cast("int") < 1024).as("low_alien_ports"),
        sum("nf").as("nf_port"), sum("served_nf").as("nf_served"),
        sum("listen_nf").as("listen_nf"))

  /** The alien-net family: per external /24, the distinct local hosts
    * that touched it and the largest effective upload of one flow group.
    */
  def alienNetFeatures(summary: DataFrame, myNets: Seq[String]): DataFrame =
    summary
      .filter(!FlowSummary.isLocalIp(col("alien_ip"), myNets))
      .groupBy(NetFunctions.significantNetwork(col("alien_ip")).as("net"))
      .agg(countDistinct("my_ip").as("hosts"),
        max(col("bytes_up") * col("sample_rate")).as("max_up"))

  // ------------------------------------------------------------ derived sets

  /** (my_ip, alien_ip) pairs talking FTP — excluded from P2P/atypical
    * detectors (J3, HogSFlow.scala:1108-1133).
    */
  def ftpTalkerPairs(pair: DataFrame): DataFrame =
    pair.filter(col("ftp_nf") > 0).select("my_ip", "alien_ip")

  /** Hosts serving FTP (HogSFlow.scala:1140). */
  def ftpServers(host: DataFrame): DataFrame =
    host.filter(col("ftp_nf") > 0).select("my_ip")

  /** Intra-run reputation derivation: proxy servers (HogSFlow.scala:1480-1489).
    * A host whose "served" port fans out to >2 well-known alien ports, and
    * where those dominate (>50% of the distinct alien ports low), is proxying
    * rather than serving — whitelisted for this and later runs.
    */
  def proxyServers(servedPort: DataFrame): DataFrame =
    servedPort
      .filter(col("nf_served") > 0 && // the port actually serves (direction<0)
        col("low_alien_ports") > 2 &&
        col("qtd_alien_ports").cast("double") / col("low_alien_ports") > 0.5)
      .select("my_ip").distinct()

  /** Intra-run reputation derivation: BigProvider networks
    * (HogSFlow.scala:2022-2031): an alien /24 with >minDistinctHosts local
    * pairs where a single flow group pushed more than ~1 GiB effective
    * upload. Consumed by [[atypicalData]] (HogSFlow.scala:1840,1851) in the
    * same run — explicit two-pass sequencing instead of a side-channel store.
    */
  def bigProviders(alienNet: DataFrame, minDistinctHosts: Int = 4,
      minBytes: Long = Defaults.bigProvidersMinBytes): DataFrame =
    alienNet.filter(col("hosts") > minDistinctHosts && col("max_up") > minBytes)
      .select("net")

  // -------------------------------------------------------------- detectors

  /** Top talkers by effective upload (O1, HogSFlow.scala:1060-1082). */
  def topTalkers(host: DataFrame, k: Int = 100): DataFrame =
    host.orderBy(col("up").desc, col("my_ip"))
      .limit(k)
      .select(alert("topTalkers", col("my_ip"), lit(null).cast("string"),
        col("up"), col("nf"), lit("top upload")): _*)

  /** SMTP talkers (A3+O1, HogSFlow.scala:1028-1099): external port-25
    * flows with >3 pkts, per-IP rollup, >1 connection, >20 pkts, effective
    * bytes over threshold, and the host is NOT a known SMTP server/sender
    * per its HIST01/HIST02 profiles (J5/H6).
    */
  def smtpTalkers(host: DataFrame, hist01: DataFrame, hist02: DataFrame,
      minBytes: Long = Defaults.smtpMinBytes, k: Int = 100): DataFrame = {
    val rolled = host
      .filter(col("smtp_nf") > 1 && col("smtp_bytes") > minBytes && col("smtp_pkts") > 20)
    val smtpServer = profileTypical(hist01, "25").withColumnRenamed("name", "my_ip")
    val smtpSender = profileTypical(hist02, "25").withColumnRenamed("name", "my_ip")
    rolled
      .join(smtpServer, Seq("my_ip"), "left_anti")
      .join(smtpSender, Seq("my_ip"), "left_anti")
      .orderBy(col("smtp_bytes").desc, col("my_ip")).limit(k)
      .select(alert("smtpTalkers", col("my_ip"), lit(null).cast("string"),
        col("smtp_bytes"), col("smtp_nf"), lit("atypical SMTP volume")): _*)
  }

  /** Keys whose profile says `bucket` is typical (frequency > ε). */
  private def profileTypical(profile: DataFrame, bucket: String): DataFrame =
    profile.filter(HistogramFunctions.isTypicalEvent(col("buckets"), lit(bucket)))
      .select("name")

  /** P2P talkers, both reference methods (A4 two-level distinct,
    * HogSFlow.scala:1160-1290). Method 1: >minPairs external pairs over
    * >minPorts local ports. Method 2 (for hosts missed by 1): >minPairs2
    * pairs, >minPorts2 distinct alien ports, >minBytes2 bytes.
    */
  def p2pTalkers(summary: DataFrame, myNets: Seq[String], ftpPairs: DataFrame,
      ftpSrv: DataFrame, minPairs: Int = Defaults.p2pMinPairs,
      minPorts: Int = Defaults.p2pMinPorts, minPairs2: Int = Defaults.p2pMinPairs2nd,
      minPorts2: Int = Defaults.p2pMinPorts2nd,
      minBytes2: Long = Defaults.p2pMinBytes2nd): DataFrame = {
    val external = summary
      .filter(!FlowSummary.isLocalIp(col("alien_ip"), myNets))
      .join(ftpPairs, Seq("my_ip", "alien_ip"), "left_anti")
    // its own rollup: the port sets would make the pair family an object aggregate
    val perPair = external.groupBy("my_ip", "alien_ip")
      .agg(sum("bytes_up").as("up"), sum("bytes_down").as("down"),
        collect_set("my_port").as("my_ports"), collect_set("alien_port").as("alien_ports"),
        count(lit(1)).as("nf"))
    val perIp = perPair.groupBy("my_ip")
      .agg(count(lit(1)).as("pairs"),
        size(array_distinct(flatten(collect_list("my_ports")))).as("n_my_ports"),
        size(array_distinct(flatten(collect_list("alien_ports")))).as("n_alien_ports"),
        sum(col("up") + col("down")).as("bytes"), sum("nf").as("nf"))
      .join(ftpSrv, Seq("my_ip"), "left_anti")
    val m1 = perIp.filter(col("pairs") > minPairs && col("n_my_ports") > minPorts)
      .select(alert("p2pTalkers", col("my_ip"), lit(null).cast("string"),
        col("pairs"), col("nf"), lit("p2p method1")): _*)
    val m2 = perIp
      .join(m1.select(col("my_ip")), Seq("my_ip"), "left_anti") // only hosts missed by method 1
      .filter(col("pairs") > minPairs2 && col("n_alien_ports") > minPorts2 &&
        col("bytes") > minBytes2)
      .select(alert("p2pTalkers", col("my_ip"), lit(null).cast("string"),
        col("pairs"), col("nf"), lit("p2p method2")): _*)
    m1.union(m2)
  }

  /** Media-streaming clients (HogSFlow.scala:1295-1360): long-lived
    * (5 min..2 h) download-heavy external flows, small upload, excluding
    * VPN port 1194 and P2P hosts (detector DAG J4). The duration and port
    * filters are [[contacts]]' `media*` columns.
    */
  def mediaStreamingClients(pair: DataFrame, myNets: Seq[String], p2pHosts: DataFrame,
      maxUpload: Long = Defaults.mediaMaxUploadBytes,
      minDownload: Long = Defaults.mediaMinDownloadBytes): DataFrame =
    pair
      .filter(col("media_nf") > 0 && !FlowSummary.isLocalIp(col("alien_ip"), myNets) &&
        col("media_down") > minDownload && col("media_up") < maxUpload)
      .join(p2pHosts, Seq("my_ip"), "left_anti")
      .select(alert("mediaStreaming", col("my_ip"), col("alien_ip"),
        col("media_down"), col("media_nf"), lit("streaming client")): _*)

  /** Atypical-open-port access (HIST01 + H5, HogSFlow.scala:1370-1520):
    * served ports this window that the host's learned profile has never
    * seen. Cold-start profiles (size < minObs) learn only.
    *
    * Ports are first screened to "genuinely served" (HogSFlow.scala:1440-1478):
    * a served port is hit from >3 distinct alien ports with diversity ratio
    * > 0.2 — otherwise it's this host's client-side ephemeral port. Hosts on
    * the proxy whitelist take the direction<0 test instead (a proxy's served
    * port legitimately fans out to low alien ports, HogSFlow.scala:1434-1439).
    */
  def atypicalPorts(servedPort: DataFrame, hist01: DataFrame, proxies: DataFrame,
      minObs: Long = 100,
      excludePorts: Seq[String] = Defaults.atypicalPortsExcludePorts.toSeq.sorted): DataFrame = {
    val current = HistogramFunctions.buildHistogram(
      servedPort
        .join(proxies.withColumn("is_proxy", lit(true)), Seq("my_ip"), "left")
        .filter(col("listen_nf") > 0 && !col("my_port").isin(excludePorts: _*) &&
          when(col("is_proxy"), col("nf_served") > 0)
            .otherwise(col("qtd_alien_ports") > 3 &&
              col("qtd_alien_ports").cast("double") / col("nf_port") > 0.2 &&
              !(col("low_alien_ports") > 2 &&
                col("qtd_alien_ports").cast("double") / col("low_alien_ports") > 0.5)))
        .select(col("my_ip"), col("my_port").as("bucket"), col("listen_nf").as("cnt")),
      Seq("my_ip"))
    ProfileStore.atypicalAlerts(hist01, current, minObs, "my_ip")
      .select(alert("atypicalPorts", col("my_ip"), lit(null).cast("string"),
        col("bucket").cast("double"), lit(1), concat(lit("atypical open port "), col("bucket")),
        ports = concat(lit("TCP: "), col("bucket"))): _*)
  }

  /** The current-window HIST02 histogram, keyed by `name`: alien ports
    * contacted per local host ([[contacts]]' `out_nf` flows).
    * [[atypicalAlienPorts]] and the HIST02/HIST02.1 learners read it.
    */
  def hist02Current(alienPort: DataFrame): DataFrame =
    HistogramFunctions.buildHistogram(
      alienPort.filter(col("out_nf") > 0)
        .select(col("my_ip"), col("alien_port").as("bucket"), col("out_nf").as("cnt")),
      Seq("my_ip")).withColumnRenamed("my_ip", "name")

  /** Atypical alien-port access (HIST02 + HIST02.1 + the J6 alien-profile
    * confirm, HogSFlow.scala:1530-1722). Three gates before a port alerts:
    *
    *  1. atypical vs the host's long-run HIST02 profile (mature only);
    *  2. typical vs the LAST-window snapshot HIST02.1 — the leave-one-out
    *     check: a brand-new port must have also appeared last window, or
    *     it is noise, not an established new behavior (HogSFlow.scala:1649-1651);
    *  3. confirmed from the alien side (HogSFlow.scala:1659-1681): some
    *     flow on that port must target an alien whose own profile —
    *     HIST01 of the alien host if it is local, HIST05 of the alien /24
    *     otherwise (the conditional-key J6 lookup) — is mature (≥ minAlienObs)
    *     and has never served that port either.
    *
    * The reference runs gate 3 per flow inside a filter closure with an
    * HBase GET per flow; here it is one conditional-key left join over the
    * candidate contacts.
    */
  def atypicalAlienPorts(contacts: DataFrame, hist02Cur: DataFrame, myNets: Seq[String],
      hist02: DataFrame, hist02snap: DataFrame, hist01: DataFrame, hist05: DataFrame,
      minObs: Long = 100, minAlienObs: Long = 21): DataFrame = {
    // gates 1+2: atypical vs profile, typical vs a non-empty last-window snapshot
    val candidates = hist02Cur
      .join(ProfileStore.mature(hist02, minObs).as("hist02"), Seq("name"))
      .join(ProfileStore.mature(hist02snap, 1).as("snap"), Seq("name"))
      .select(col("name").as("my_ip"),
        explode(array_intersect(
          HistogramFunctions.atypicalKeys(col("hist02.profile"), col("buckets")),
          HistogramFunctions.typicalKeys(col("snap.profile"), col("buckets")))).as("port"))
    // gate 3: the alien side's own profile also calls the port atypical.
    // Conditional keyspace: local alien → HIST01-<ip>; external → HIST05-<net>.
    val flows = contacts.filter(col("out_nf") > 0)
      .select(col("my_ip"), col("alien_port").as("port"), col("alien_ip"))
      .join(candidates, Seq("my_ip", "port"), "left_semi")
      .withColumn("alien_key",
        when(FlowSummary.isLocalIp(col("alien_ip"), myNets), col("alien_ip"))
          .otherwise(NetFunctions.significantNetwork(col("alien_ip"))))
      .withColumn("is_local_alien", FlowSummary.isLocalIp(col("alien_ip"), myNets))
    val alienProfile =
      when(col("is_local_alien"), col("hist01.profile")).otherwise(col("hist05.profile"))
    val confirming = flows
      .join(ProfileStore.mature(hist01, minAlienObs, "alien_key").as("hist01"),
        Seq("alien_key"), "left")
      .join(ProfileStore.mature(hist05, minAlienObs, "alien_key").as("hist05"),
        Seq("alien_key"), "left")
      .filter(alienProfile.isNotNull &&
        !HistogramFunctions.isTypicalEvent(alienProfile, col("port")))
      .select("my_ip", "port")
    candidates.join(confirming, Seq("my_ip", "port"), "left_semi")
      .select(alert("atypicalAlienPorts", col("my_ip"), lit(null).cast("string"),
        col("port").cast("double"), lit(1), concat(lit("atypical alien port "), col("port")),
        ports = concat(lit("TCP: "), col("port"))): _*)
  }

  /** Atypical port on an alien /24 network (HIST05, HogSFlow.scala:1993-2113):
    * per external network of `hist05Cur` ([[hist05Current]]: touched by
    * >minDistinctHosts local hosts), the ports used this window that the
    * network's mature profile has never seen. The reference logs but does not alert (the alert block is
    * commented out, :2085-2098) — emitted here as first-class alert rows.
    */
  def alienNetworkAtypicalPorts(hist05Cur: DataFrame, hist05: DataFrame,
      minObs: Long = 1000): DataFrame =
    ProfileStore.atypicalAlerts(hist05, hist05Cur, minObs)
      .select(alert("alienNetworkAtypicalPorts", lit(null).cast("string"), col("name"),
        col("bucket").cast("double"), lit(1),
        concat(lit("atypical port on alien network "), col("bucket")),
        ports = concat(lit("TCP: "), col("bucket"))): _*)

  /** External summary rows, with their `net`, to the /24s touched by
    * >minDistinctHosts distinct local hosts (the alien-net family's
    * `hosts`): the rows HIST05 and HIST06 learn from.
    */
  private def eligibleNetRows(summary: DataFrame, alienNet: DataFrame, myNets: Seq[String],
      minDistinctHosts: Int): DataFrame =
    summary.filter(!FlowSummary.isLocalIp(col("alien_ip"), myNets))
      .withColumn("net", NetFunctions.significantNetwork(col("alien_ip")))
      .join(alienNet.filter(col("hosts") > minDistinctHosts).select("net"), Seq("net"),
        "left_semi")

  /** Current-window HIST05 build (HogSFlow.scala:1950-1991): per external
    * /24 with >minDistinctHosts distinct local pairs, the flow-count
    * histogram over alien ports. [[alienNetworkAtypicalPorts]] and the
    * HIST05 learner read it.
    */
  def hist05Current(summary: DataFrame, alienNet: DataFrame,
      myNets: Seq[String], minDistinctHosts: Int = 4): DataFrame =
    HistogramFunctions.buildHistogram(
      eligibleNetRows(summary, alienNet, myNets, minDistinctHosts)
        .groupBy(col("net"), col("alien_port").as("bucket"))
        .agg(count(lit(1)).as("cnt")),
      Seq("net")).withColumnRenamed("net", "name")

  /** Current-window HIST06 build (HogSFlow.scala:2003-2020): per eligible
    * alien /24, the set of log-binned effective-upload sizes seen from
    * ephemeral local ports. The reference's `.toMap` collapses duplicate
    * bins before counting (HogSFlow.scala:2008-2016), so every observed
    * bin carries weight 1 — preserved here via countDistinct-style
    * distinct-bin collection.
    */
  private[detectors] def hist06Current(summary: DataFrame, alienNet: DataFrame,
      myNets: Seq[String], minDistinctHosts: Int = 4): DataFrame =
    HistogramFunctions.buildHistogram(
      eligibleNetRows(summary, alienNet, myNets, minDistinctHosts)
        .filter(col("my_port").cast("int") > 1023)
        .select(col("net"),
          HistogramFunctions.logBin(col("bytes_up") * col("sample_rate"), scale = 0.0001)
            .cast("string").as("bucket"))
        .distinct()
        .withColumn("cnt", lit(1L)),
      Seq("net")).withColumnRenamed("net", "name")

  /** Atypical pair-count (HIST03 log-binned, HogSFlow.scala:1757-1824):
    * the number of distinct partners ([[hostPairs]]) this window falls in a
    * log bin the mature profile has never seen.
    */
  def atypicalPairs(hostPairs: DataFrame, hist03: DataFrame, minObs: Long = 100,
      minPairs: Int = Defaults.atypicalPairsMinPairs): DataFrame =
    hostPairs.filter(col("pairs") > minPairs)
      .withColumn("bin", logBinKey(col("pairs")))
      .join(ProfileStore.mature(hist03, minObs, "my_ip"), Seq("my_ip"))
      .filter(!HistogramFunctions.isTypicalEvent(col("profile"), col("bin")))
      .select(alert("atypicalPairs", col("my_ip"), lit(null).cast("string"),
        col("pairs"), col("pairs"), concat(lit("pair-count bin "), col("bin"))): _*)

  /** The HIST03/HIST04 bucket of a count: its log bin, as a string. */
  private[detectors] def logBinKey(x: Column): Column =
    HistogramFunctions.logBin(x.cast("double")).cast("string")

  /** Atypical upload volume (HIST04 log-binned bytesUp,
    * HogSFlow.scala:1835-1933): external uploads from ephemeral ports,
    * excluding BigProvider networks (the intra-run reputation feedback —
    * `bigProviderNets` at :1840 consumed in the :1851 filter).
    */
  def atypicalData(summary: DataFrame, myNets: Seq[String], hist04: DataFrame,
      bigProviderNets: DataFrame, minObs: Long = 100,
      minBytes: Long = Defaults.atypicalDataMinBytes): DataFrame = {
    val vol = summary
      .filter(col("direction") > -1 && col("my_port").cast("int") > 1024 &&
        col("my_port") =!= "8080" && !FlowSummary.isLocalIp(col("alien_ip"), myNets))
      .join(bigProviderNets
          .select(col("net").as("alien_net")),
        NetFunctions.significantNetwork(col("alien_ip")) === col("alien_net"), "left_anti")
      .groupBy("my_ip")
      .agg(sum(col("bytes_up") * col("sample_rate")).as("up"), count(lit(1)).as("nf"))
      .filter(col("up") > minBytes)
      .withColumn("bin", logBinKey(col("up")))
    vol.join(ProfileStore.mature(hist04, minObs, "my_ip"), Seq("my_ip"))
      .filter(!HistogramFunctions.isTypicalEvent(col("profile"), col("bin")))
      .select(alert("atypicalData", col("my_ip"), lit(null).cast("string"),
        col("up"), col("nf"), concat(lit("upload bin "), col("bin"))): _*)
  }

  /** Alien /24 access burst (HIST05 per network, A4+J6,
    * HogSFlow.scala:1993-2113): one external host touching many local
    * pairs.
    */
  def alienAccess(summary: DataFrame, myNets: Seq[String], minPairs: Int = Defaults.alienMinPairs)
      : DataFrame =
    summary
      .filter(!FlowSummary.isLocalIp(col("alien_ip"), myNets))
      .groupBy("alien_ip")
      .agg(countDistinct("my_ip").as("pairs"), count(lit(1)).as("nf"),
        // the rendered port set (HogEvent.ports via HogSFlow.scala:381);
        // bounded: an alien sweeping every port would otherwise collect
        // an unbounded set into one aggregation buffer
        concat_ws(",", slice(sort_array(collect_set(col("my_port"))), 1, 20))
          .as("ports_list"))
      .filter(col("pairs") > minPairs)
      .select(alert("alienAccess", lit(null).cast("string"), col("alien_ip"),
        col("pairs"), col("nf"), lit("alien touching many local hosts"),
        ports = concat(lit("Ports: "), col("ports_list"))): _*)

  /** UDP amplification reflector (A3, HogSFlow.scala:2155-2191): UDP from
    * an amplification service port with a huge packet count and
    * essentially one-way traffic ([[hostFeatures]]' `udp*` columns).
    */
  def udpAmplifier(host: DataFrame): DataFrame =
    host.filter(col("udp_nf") > 0)
      .select(alert("udpAmplifier", col("my_ip"), lit(null).cast("string"),
        col("udp_pkts"), col("udp_nf"), lit("amplification reflector")): _*)

  /** Abused SMTP relay (keyed by pair, HogSFlow.scala:2219-2252). */
  def abusedSmtp(pair: DataFrame, minBytes: Long = Defaults.abusedSmtpMinBytes, k: Int = 100)
      : DataFrame =
    pair.filter(col("smtp_nf") > 0 && col("smtp_bytes") > minBytes)
      .orderBy(col("smtp_bytes").desc, col("my_ip"), col("alien_ip")).limit(k)
      .select(alert("abusedSMTP", col("my_ip"), col("alien_ip"),
        col("smtp_bytes"), col("smtp_nf"), lit("smtp relay abuse")): _*)

  /** DNS tunnel (HogSFlow.scala:2281-2309): port-53 volume way past name
    * resolution.
    */
  def dnsTunnel(host: DataFrame, minBytes: Long = Defaults.dnsTunnelMinBytes, k: Int = 30)
      : DataFrame =
    host.filter(col("dns_nf") > 0 && col("dns_bytes") > minBytes)
      .orderBy(col("dns_bytes").desc, col("my_ip")).limit(k)
      .select(alert("dnsTunnel", col("my_ip"), lit(null).cast("string"),
        col("dns_bytes"), col("dns_nf"), lit("dns tunnel volume")): _*)

  /** ICMP tunnel (A2 shape, HogSFlow.scala:2341-2370): big ICMP payloads
    * ([[hostFeatures]]' `icmpMinPktSize`), big totals.
    */
  def icmpTunnel(host: DataFrame, minBytes: Long = Defaults.icmpMinBytes, k: Int = 30): DataFrame =
    host.filter(col("icmp_nf") > 0 && col("icmp_bytes") > minBytes)
      .orderBy(col("icmp_bytes").desc, col("my_ip")).limit(k)
      .select(alert("icmpTunnel", col("my_ip"), lit(null).cast("string"),
        col("icmp_bytes"), col("icmp_nf"), lit("icmp tunnel volume")): _*)

  /** The ports hPortScan tests and HIST07 learns (HogSFlow.scala:2403-2446):
    * per local host and alien port, the distinct aliens probed with
    * probe-sized flows, past the per-port fan-out floor (the reference's
    * `numberOfPairsPort > hPortScanMinFlowsThreshold` filter at :2447,
    * applied BEFORE regrouping, so the learned HIST07 only ever contains
    * heavy ports), P2P hosts excluded.
    */
  private def scannedPorts(alienPort: DataFrame, p2pHosts: DataFrame, minPairsPort: Int,
      excludeAlienPorts: Seq[String]): DataFrame =
    alienPort
      .filter(col("probe_nf") > 0 && !col("alien_port").isin(excludeAlienPorts: _*) &&
        col("probe_aliens") > minPairsPort)
      .join(p2pHosts, Seq("my_ip"), "left_anti")

  /** Current-window HIST07 build: the per-port fan-out of [[scannedPorts]]
    * as a count map.
    */
  private[detectors] def hist07Current(alienPort: DataFrame, p2pHosts: DataFrame,
      minPairsPort: Int, excludeAlienPorts: Seq[String]): DataFrame =
    HistogramFunctions.buildCountMap(
      scannedPorts(alienPort, p2pHosts, minPairsPort, excludeAlienPorts)
        .select(col("my_ip"), col("alien_port").as("bucket"), col("probe_aliens").as("cnt")),
      Seq("my_ip")).withColumnRenamed("my_ip", "name")

  /** Horizontal port scan (HIST07-relative, HogSFlow.scala:2403-2531): a
    * local host probing the same alien port across many alien hosts —
    * alerting on DEVIATION FROM THE LEARNED MAX, not a fixed threshold:
    * a port fires only when the host's mature HIST07 profile has never
    * seen that port fan out this far (`savedHistogram.histMap(port) <
    * numPairsPort`, :2495-2505). Port 25 is suppressed for hosts whose
    * HIST01 profile says they serve SMTP (:2487-2490). Cold-start profiles
    * (size < minObs) learn only.
    */
  def hPortScan(alienPort: DataFrame, myNets: Seq[String], hist07: DataFrame,
      hist01: DataFrame, p2pHosts: DataFrame,
      minPairsPort: Int = Defaults.hScanMinFlows, minObs: Long = 100,
      excludeAlienPorts: Seq[String] = Defaults.hScanExcludeAlienPorts.toSeq.sorted): DataFrame = {
    val current = scannedPorts(alienPort, p2pHosts, minPairsPort, excludeAlienPorts)
      .select(col("my_ip"), col("alien_port").as("port"), col("probe_aliens").as("pairs"),
        col("probe_nf").as("nf"))
    val smtpServers = profileTypical(hist01, "25").withColumnRenamed("name", "my_ip")
      .withColumn("serves_smtp", lit(true))
    current
      .join(ProfileStore.mature(hist07, minObs, "my_ip"), Seq("my_ip"))
      .join(smtpServers, Seq("my_ip"), "left")
      .filter(!(col("port") === "25" && coalesce(col("serves_smtp"), lit(false))))
      .filter(element_at(col("profile"), col("port")).isNull ||
        element_at(col("profile"), col("port")) < col("pairs").cast("double"))
      .select(alert("hPortScan", col("my_ip"), lit(null).cast("string"),
        col("pairs"), col("nf"),
        concat(lit("horizontal scan beyond learned max on port "), col("port")),
        ports = concat(lit("Ports: "), col("port"))): _*)
  }

  /** The pairs vPortScan tests and HIST08 learns (HogSFlow.scala:2546-2586):
    * probe-sized flows from an ephemeral local port to more than
    * `minPorts` distinct well-known alien ports, P2P hosts excluded.
    */
  private def scanningPairs(pair: DataFrame, p2pHosts: DataFrame, minPorts: Int): DataFrame =
    pair.filter(col("vscan_nf") > 0 && col("vscan_ports") > minPorts)
      .join(p2pHosts, Seq("my_ip"), "left_anti")

  /** Current-window HIST08 build (HogSFlow.scala:2599-2640): per local
    * host, the distribution of how many distinct ports its over-threshold
    * pair bursts touched — one observation per qualifying (my_ip, alien_ip)
    * pair, keyed by the port count as a string.
    */
  private[detectors] def hist08Current(pair: DataFrame, p2pHosts: DataFrame, minPorts: Int)
      : DataFrame =
    HistogramFunctions.buildHistogram(
      scanningPairs(pair, p2pHosts, minPorts)
        .groupBy(col("my_ip"), col("vscan_ports").cast("string").as("bucket"))
        .agg(count(lit(1)).as("cnt")),
      Seq("my_ip")).withColumnRenamed("my_ip", "name")

  /** Vertical port scan (HIST08-relative, HogSFlow.scala:2599-2640): a
    * local host touching many distinct well-known ports on one alien —
    * alerting only when the host's mature HIST08 profile has no typical
    * observation at or above this port count (`histMap.filter(numberOfPorts
    * >= numPorts && weight > ε).size == 0`, :2614-2620). Cold-start
    * profiles learn only.
    */
  def vPortScan(pair: DataFrame, myNets: Seq[String], hist08: DataFrame,
      p2pHosts: DataFrame, minPorts: Int = Defaults.vScanMinPorts, minObs: Long = 10): DataFrame =
    scanningPairs(pair, p2pHosts, minPorts)
      .join(ProfileStore.mature(hist08, minObs, "my_ip"), Seq("my_ip"))
      .filter(size(map_filter(col("profile"), (k, v) =>
        k.cast("long") >= col("vscan_ports") &&
          v > HistogramFunctions.AtypicalThreshold)) === 0)
      .select(alert("vPortScan", col("my_ip"), col("alien_ip"),
        col("vscan_ports"), col("vscan_nf"),
        lit("vertical scan beyond learned port-count profile")): _*)

  /** DDoS burst (A4 + F9 trimmed mean, HogSFlow.scala:2676-2731): many
    * flows from many pairs ([[hostPairs]]) whose inter-arrival gaps —
    * after dropping the 4 largest — average under a minute.
    */
  def ddos(summary: DataFrame, hostPairs: DataFrame, minFlows: Int = Defaults.ddosMinFlows,
      minPairs: Int = Defaults.ddosMinPairs, maxMeanGapSecs: Double = 60.0): DataFrame = {
    val byStart = Window.partitionBy(col("my_ip")).orderBy(col("t_min"), col("alien_ip"), col("alien_port"))
    val gaps = summary
      .withColumn("gap", col("t_min") - lag(col("t_min"), 1).over(byStart))
      .filter(col("gap").isNotNull)
    val byGap = Window.partitionBy(col("my_ip")).orderBy(col("gap").desc, col("t_min"), col("alien_ip"), col("alien_port"))
    val trimmed = gaps.withColumn("gr", row_number().over(byGap)).filter(col("gr") > 4)
      .groupBy("my_ip").agg(avg("gap").as("mean_gap"))
    hostPairs
      .filter(col("nf") > minFlows && col("pairs") > minPairs)
      .join(trimmed, Seq("my_ip"))
      .filter(col("mean_gap") < maxMeanGapSecs)
      .select(alert("ddos", col("my_ip"), lit(null).cast("string"),
        col("mean_gap"), col("nf"), lit("ddos burst")): _*)
  }

  /** Botnet C&C contact (J2 longest-prefix blacklist,
    * HogSFlow.scala:2770-2808): chatty flows to a blacklisted prefix.
    */
  def botnetCC(summary: DataFrame, blacklist: DataFrame,
      minPktsPerFlow: Int = Defaults.botnetMinPktsPerFlow): DataFrame = {
    val chatty = summary.filter(col("n_pkts") >= minPktsPerFlow)
      .select("my_ip", "alien_ip", "n_pkts")
    NetFunctions.longestPrefixJoin(chatty, "alien_ip", blacklist)
      .filter(col("best_prefix").isNotNull)
      .groupBy("my_ip")
      .agg(countDistinct("alien_ip").as("cc_hosts"), sum("n_pkts").as("pkts"))
      .select(alert("botnetCC", col("my_ip"), lit(null).cast("string"),
        col("cc_hosts"), col("pkts"), lit("blacklisted C&C contact")): _*)
  }

  /** OS discovery (J7, HogSFlow.scala:2838-2868): which update
    * repositories each host talks to → inferred OS set.
    */
  def osDiscovery(summary: DataFrame, osRepos: DataFrame): DataFrame =
    summary.join(broadcast(osRepos), col("alien_ip") === osRepos("repo_ip"))
      .groupBy("my_ip")
      .agg(concat_ws(",", array_sort(collect_set(col("os")))).as("oses"),
        count(lit(1)).as("nf"))
      .select(alert("osDiscovery", col("my_ip"), lit(null).cast("string"),
        lit(0.0), col("nf"), concat(lit("os: "), col("oses"))): _*)
}
