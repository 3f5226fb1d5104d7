package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.detectors.HogzillaBatch
import graft.detectors.HogzillaBatch.ProfileTables
import graft.operators.StateSwap

/** The production entry point — the reference's 6-hourly batch job
  * (`Hogzilla.main` + the `start-hogzilla.sh` relaunch loop) as one
  * spark-submit main over parquet directories:
  *
  * {{{
  * spark-submit --class graft.GraftApp graft.jar \
  *   <samplesPath> <stateDir> <outDir> [myNetsCSV]
  * }}}
  *
  *  - `samplesPath`: parquet of raw sFlow samples (schema: srcIP, dstIP,
  *    srcPort, dstPort, IPprotocol, packetSize, samplingRate, tcpFlags,
  *    timestamp — FlowSummary's documented input);
  *  - `stateDir`: profile state root; `<stateDir>/hist01..hist08,
  *    hist02snap` parquet tables are read if present (cold start
  *    otherwise), and atomically replaced with the post-run profiles.
  *    Optional `<stateDir>/blacklist` (prefix) and `<stateDir>/os_repos`
  *    (repo_ip, os) feed botnetCC/osDiscovery;
  *  - `outDir`: `alerts` (append — the event-sink table) plus the derived
  *    `proxies` / `big_providers` reputation lists (overwrite — next
  *    run's exclusions, the reference's runtime reputation writes).
  *
  * Scheduling is the caller's (cron/Airflow/`while :; sleep 21600`) —
  * the job itself is stateless between invocations except through
  * `stateDir`, exactly like the reference's HBase tables.
  */
object GraftApp {

  private def emptyTable(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(ddl))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.GraftApp <samplesPath> <stateDir> <outDir> [myNetsCSV] [confPath]")
    val Array(samplesPath, stateDir, outDir) = args.take(3)
    val myNets = if (args.length > 3) args(3).split(",").toSeq else Seq("10.", "192.168.")
    val config = if (args.length > 4) GraftConfig.load(args(4)) else GraftConfig.empty
    val spark = GraftSession.build()
    run(spark, samplesPath, stateDir, outDir, myNets, config)
    spark.stop()
  }

  /** One batch pass; factored out of main so tests can drive it.
    * `config`: the reference's sflow.conf surface, read as a [[Detection]]
    * (thresholds, disabled flags, exclusion sets) — see HogzillaBatch.run.
    * `sink`: optional notification transport for this run's alerts (the
    * reference's mailer role); defaults to the one `alert.notify` names
    * ([[Detection.Notify]]).
    */
  def run(spark: SparkSession, samplesPath: String, stateDir: String,
          outDir: String, myNets: Seq[String],
          config: GraftConfig = GraftConfig.empty,
          sink: Option[graft.operators.AlertSink.Sink] = None): Unit = {
    // read first, so a broken conf fails before any Spark work
    val alertNotify = Detection.fromConfig(config).alertNotify
    Detection.warnUnknownKeys(config)
    val samples = spark.read.parquet(samplesPath)
    val profiles = ProfileTables.fromSeq(ProfileTables.Names.map(h =>
      StateSwap.readOrElse(spark, s"$stateDir/$h", HogzillaBatch.emptyProfiles(spark))))
    val blacklist = StateSwap.readOrElse(spark, s"$stateDir/blacklist",
      emptyTable(spark, "prefix string"))
    val osRepos = StateSwap.readOrElse(spark, s"$stateDir/os_repos",
      emptyTable(spark, "repo_ip string, os string"))

    val (alerts, updated, reputation, release) =
      HogzillaBatch.run(spark, samples, myNets, profiles, blacklist, osRepos, config)

    // the pins are dropped however the run ends: a failed write must not
    // leave them cached when driven from a long-lived session
    try {
      // alerts append to the event sink (S5); reputation lists overwrite
      alerts.write.mode(SaveMode.Append).parquet(s"$outDir/alerts")
      // notification delivery (the reference's mailer role): render the
      // payload per alert and hand it to the pluggable transport
      sink.orElse(alertNotify.sink).foreach(graft.operators.AlertSink.deliver(alerts, _))
      reputation.proxies.write.mode(SaveMode.Overwrite).parquet(s"$outDir/proxies")
      reputation.bigProviders.write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/big_providers")

      // profile state: crash-safe stage-then-swap (Hadoop FS, loud renames,
      // marker-file recovery — StateSwap) so a crash mid-write can't leave a
      // family half-replaced OR silently cold-start the next run
      ProfileTables.Names.zip(updated.toSeq).foreach { case (name, df) =>
        StateSwap.swap(df, s"$stateDir/$name")
      }
    } finally release()
  }
}
