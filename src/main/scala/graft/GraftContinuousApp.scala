package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.detectors.{AuthProfiling, SignatureCatalog}
import graft.functions.HistogramFunctions
import graft.operators.{ProfileStore, StateSwap}
import graft.streaming.StreamingJobs

/** The continuous auth-profiling mode (`HogzillaContinuous.main` →
  * `HogAuth.realRun`: scan auth table every 10 s, profile, delete) as a
  * checkpointed streaming job — effectively-once batches instead of the
  * reference's read-then-delete race:
  *
  * {{{
  * spark-submit --class graft.GraftContinuousApp graft.jar \
  *   <authStreamDir> <stateDir> <outDir> [intervalSecs] [confPath]
  * }}}
  *
  * `authStreamDir`: a directory the auth pipeline appends parquet files
  * into (columns: user_name, ts, city, coords "lat,lon", user_agent,
  * service). Each micro-batch runs the HIST20/21/22 atypical-access
  * checks plus the geo-velocity impossible-travel detector against the
  * profiles learned from all PREVIOUS batches, appends alerts, then
  * merges the batch into the profiles (learn-after-detect, the
  * reference's ordering).
  */
object GraftContinuousApp {

  /** Marker row carried inside the swapped profile state recording the
    * last APPLIED batch id — the replay-idempotence anchor (see [[run]]).
    * Never matches a `HISTxx-` family prefix, so detection and learning
    * code cannot confuse it with a profile.
    */
  private[graft] val BatchMarker = "__meta:last_applied_batch"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.GraftContinuousApp <authStreamDir> <stateDir> <outDir> [intervalSecs] [confPath]")
    val Array(authDir, stateDir, outDir) = args.take(3)
    val interval = if (args.length > 3) args(3).toInt else 10
    val config = if (args.length > 4) GraftConfig.load(args(4)) else GraftConfig.empty
    val spark = GraftSession.build()
    val schema = spark.read.parquet(authDir).schema
    val stream = spark.readStream.schema(schema).parquet(authDir)
    val q = run(spark, stream, stateDir, outDir, interval, config)
    q.awaitTermination()
  }

  /** Wire the per-batch step onto any streaming frame (file source in
    * production, MemoryStream in tests).
    *
    * Delivery contract: foreachBatch is AT-LEAST-ONCE — a crash after
    * the handler's side effects but before the offset commit replays the
    * batch — so effectively-once comes from two idempotence mechanisms,
    * not from the checkpoint alone (which only stops a RESTART from
    * replaying the whole source): (1) the last applied batch id rides
    * INSIDE the atomically-swapped profile state ([[BatchMarker]]), so a
    * replayed batch is detected and its profile merge skipped rather
    * than double-applied; (2) alerts write to a per-batch-id directory
    * with overwrite, so a replayed write replaces instead of appending
    * duplicates.
    */
  def run(spark: SparkSession, stream: DataFrame, stateDir: String,
          outDir: String, intervalSecs: Int,
          config: GraftConfig = GraftConfig.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // read once, so a conf that does not parse fails before the query starts
    val detection = Detection.fromConfig(config)
    Detection.warnUnknownKeys(config)
    StreamingJobs.consumeMicroBatches(stream, intervalSecs,
        checkpointDir = Some(s"$stateDir/checkpoint")) { (batch, batchId) =>
      if (!batch.isEmpty) processBatch(spark, batch, stateDir, outDir, batchId, detection)
    }
  }

  /** One micro-batch: detect against saved profiles, write alerts,
    * learn, stage-swap the profile state (with the applied batch id
    * riding in the swap — see [[run]] for the replay contract).
    */
  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                   outDir: String, batchId: Long,
                   detection: Detection = Detection.default): Unit = {
    // both state tables (profiles + city coords) live under one root and
    // promote in a single StateSwap.swapAll, so the replay marker inside
    // the profiles is provably in sync with the coords table too
    val stateRoot = s"$stateDir/auth_state"
    // recover-then-read via StateSwap: a crash mid-swap on the previous
    // batch is completed here instead of silently cold-starting
    val allProfiles = StateSwap.readTableOrElse(spark, stateRoot, "profiles",
      graft.detectors.HogzillaBatch.emptyProfiles(spark))
    // replay guard: the marker row travels with the atomic swap, so
    // "marker >= batchId" proves this batch's merge (and the alert write
    // sequenced before it) already completed — a replayed handler is a no-op
    val lastApplied = allProfiles.filter(col("name") === BatchMarker)
      .select(col("size")).collect().headOption.map(_.getLong(0))
    if (lastApplied.exists(_ >= batchId)) return
    val profiles = allProfiles.filter(col("name") =!= BatchMarker)

    // known city coordinates: every (city, coords) this state has seen —
    // derived from the same stream and persisted beside the profiles
    // (the reference keeps coords in histogram labels)
    val savedCoords = StateSwap.readTableOrElse(spark, stateRoot, "city_coords",
      batch.sparkSession.emptyDataFrame
        .withColumn("city", lit(null).cast("string"))
        .withColumn("coords", lit(null).cast("string")))
    val cityCoords = savedCoords
      .unionByName(batch.select(col("city"), col("coords")))
      .groupBy(col("city")).agg(min(col("coords")).as("coords"))

    // reference conf levels (HogAuth.scala:83-85): 0 = detect+learn,
    // 1 = just training (suppress this family's alerts, keep learning),
    // 2 = nothing (also skip learning below)
    def gated(flag: String, level: Int) = if (level != 0) lit(0) else col(flag)
    val atypical = AuthProfiling.atypicalAccess(batch, profiles, cityCoords,
        radiusKm = detection.allowedRadixKm)
      .withColumn("atypical_city", gated("atypical_city", detection.locationLevel))
      .withColumn("atypical_ua", gated("atypical_ua", detection.userAgentLevel))
      .withColumn("atypical_service", gated("atypical_service", detection.systemLevel))
      .filter(col("atypical_city") + col("atypical_ua") + col("atypical_service") > 0)
      .withColumn("detector", lit("atypicalAccess"))
    val travel = AuthProfiling.impossibleTravel(batch, maxKmh = detection.travelMaxKmh)
      .select(col("user_name"), col("city"), lit(null).cast("string").as("user_agent"),
        lit(null).cast("string").as("service"), col("speed_kmh").as("min_city_dist_km"),
        lit(1).as("atypical_city"), lit(0).as("atypical_ua"), lit(0).as("atypical_service"))
      .withColumn("detector", lit("impossibleTravel"))
    // event-row fidelity (HogEvent.scala:61-82, HogAuth.scala:414-432):
    // auth alerts carry the numeric signature of the family that fired
    // (location/user-agent/service; the combined "Atypical user access"
    // id when several fired at once), the username, and the city coords
    val alertRows = atypical.unionByName(travel)
      .withColumn("signature_id",
        when(col("detector") === "impossibleTravel",
            lit(SignatureCatalog.byDetector("impossibleTravel")))
          .otherwise(SignatureCatalog.authSignature(
            col("atypical_city"), col("atypical_ua"), col("atypical_service"))))
      .withColumn("username", col("user_name"))
      .join(broadcast(cityCoords.withColumnRenamed("coords", "coords_known")), Seq("city"), "left")
      .withColumn("coords", col("coords_known")).drop("coords_known")
      .withColumn("time", unix_millis(current_timestamp())) // HogEvent.scala:68
    // per-batch-id directory + overwrite = a replayed write REPLACES its
    // own output instead of appending duplicates (readers scan the
    // auth_alerts root; `batch=` becomes a partition column)
    alertRows.write.mode(SaveMode.Overwrite).parquet(s"$outDir/auth_alerts/batch=$batchId")

    // learn pass: merge this batch into every family's histograms
    val learning = Seq(("HIST20", "city", detection.locationLevel),
        ("HIST21", "user_agent", detection.userAgentLevel),
        ("HIST22", "service", detection.systemLevel))
      .filter(_._3 != 2)
    val updated =
      if (learning.isEmpty) profiles
      else ProfileStore.update(profiles, learning.map { case (family, column, _) =>
        HistogramFunctions.buildHistogram(
          batch.groupBy(concat(lit(s"$family-"), col("user_name")).as("name"),
              col(column).as("bucket"))
            .agg(count(lit(1)).as("cnt")),
          Seq("name"))
      }.reduce(_ unionByName _))

    // the applied-batch marker swaps ATOMICALLY with the merged profiles
    // AND the coords table (one root rename): after it, a replay of
    // batchId is provably redundant for every table
    val withMarker = updated.unionByName(
      spark.range(1).select(lit(BatchMarker).as("name"), lit(batchId).as("size"),
        lit(null).cast("map<string,double>").as("buckets")))
    StateSwap.swapAll(stateRoot, Seq(
      "profiles" -> withMarker, "city_coords" -> cityCoords))
  }
}
