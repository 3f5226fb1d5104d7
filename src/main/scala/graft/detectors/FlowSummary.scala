package graft.detectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared flow-summary core every sFlow detector consumes
  * (SURVEY §2.2 P4 + §2.4 A1): direction/status inference from TCP flags,
  * canonicalization to (myIP, alienIP) orientation, then the 5-tuple
  * rollup monoid. The reference computes this once and caches it
  * (`HogSFlow.scala:789-882`); [[HogzillaBatch.run]] pins the result the
  * same way (with the p2p and alert-union frames built over it) before
  * fanning out to ~17 detectors, and its `release()` drops the pins.
  *
  * Output contract: the rollup is hash-partitioned by `my_ip`. Nearly
  * every detector and the learn pass group or join by the local host, so
  * over a materialized pin of the summary they aggregate without another
  * shuffle (see [[HogzillaBatch]] for why that pin is eager).
  *
  * Expected raw sample columns (sFlow schema, HogHBaseRDD.scala:228-230):
  * srcIP, dstIP, srcPort, dstPort (strings), IPprotocol (string int),
  * packetSize, samplingRate (string long), tcpFlags (hex "0x12"),
  * timestamp (epoch seconds).
  *
  * Documented deviations from the reference (SURVEY §7.4):
  *  - sampleRate merges as a true `avg` (the reference's pairwise
  *    `(a+b)/2` is reduce-order-dependent — nondeterministic on a
  *    cluster);
  *  - the flow detail set is bounded later (top-K at alert time), never
  *    an unbounded HashSet in the aggregation value.
  */
object FlowSummary {

  /** Prefix semi-join membership against the local-network list (J1,
    * isMyIP HogSFlow.scala:725-731): nets are tiny (a config list), so
    * they inline as a literal OR-chain — zero shuffle, codegen-friendly.
    */
  def isLocalIp(ip: Column, myNets: Seq[String]): Column =
    myNets.map(n => ip.startsWith(n)).reduceOption(_ || _).getOrElse(lit(false))

  /** Direction vote for one sample, BEFORE canonicalization
    * (HogSFlow.scala:811-866): SYN from src → src initiated (+1 toward
    * src→dst); SYN-ACK from src → dst initiated; pure ACK/PSH-ACK carry no
    * initiation signal (0); fall back to the well-known-port heuristic
    * (the side with port < 1024 is the server).
    */
  def directionVote(tcpFlags: Column, srcPort: Column, dstPort: Column): Column =
    when(tcpFlags === "0x02", 1)
      .when(tcpFlags === "0x12", -1)
      .when(srcPort.cast("int") < 1024 && dstPort.cast("int") >= 1024, -1)
      .when(dstPort.cast("int") < 1024 && srcPort.cast("int") >= 1024, 1)
      .otherwise(0)

  /** TCP established marker: SYN-ACK observed (HogSFlow.scala:830-840). */
  def statusFlag(tcpFlags: Column): Column =
    when(tcpFlags === "0x12", 1).otherwise(0)

  /** Canonicalize samples so the key is always (myIP, myPort, alienIP,
    * alienPort, proto) regardless of capture orientation, then roll up to
    * the A1 summary, hash-partitioned by `my_ip`. Direction is SUMMED as a
    * majority vote and status summed then tested >0 downstream — both
    * reference quirks preserved (HogSFlow.scala:877-882).
    */
  def summarize(samples: DataFrame, myNets: Seq[String]): DataFrame = {
    val srcLocal = isLocalIp(col("srcIP"), myNets)
    val vote = directionVote(col("tcpFlags"), col("srcPort"), col("dstPort"))
    val canon = samples.select(
      when(srcLocal, col("srcIP")).otherwise(col("dstIP")).as("my_ip"),
      when(srcLocal, col("srcPort")).otherwise(col("dstPort")).as("my_port"),
      when(srcLocal, col("dstIP")).otherwise(col("srcIP")).as("alien_ip"),
      when(srcLocal, col("dstPort")).otherwise(col("srcPort")).as("alien_port"),
      col("IPprotocol").as("proto"),
      // bytes attributed up (my→alien) or down by orientation
      when(srcLocal, col("packetSize").cast("long")).otherwise(lit(0L)).as("bytes_up"),
      when(!srcLocal, col("packetSize").cast("long")).otherwise(lit(0L)).as("bytes_down"),
      lit(1L).as("n_pkts"),
      when(srcLocal, vote).otherwise(-vote).as("direction"),
      col("timestamp").cast("long").as("ts"),
      col("samplingRate").cast("long").as("sample_rate"),
      statusFlag(col("tcpFlags")).as("status"))
    canon.groupBy("my_ip", "my_port", "alien_ip", "alien_port", "proto")
      .agg(
        sum("bytes_up").as("bytes_up"),
        sum("bytes_down").as("bytes_down"),
        sum("n_pkts").as("n_pkts"),
        sum("direction").as("direction"),
        min("ts").as("t_min"),
        max("ts").as("t_max"),
        avg("sample_rate").as("sample_rate"),
        sum("status").as("status"))
      .repartition(col("my_ip"))
  }
}
