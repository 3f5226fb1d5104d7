package graft.detectors

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.Detection
import graft.functions.HistogramFunctions
import graft.functions.NetFunctions

/** The continuous auth-profiling detector (`HogAuth.realRun`,
  * HogAuth.scala:323-435): per-user HIST20/21/22 profiles of cities,
  * user-agents and services; after the 10-observation cold start, an
  * access from an unseen city (outside a haversine radius of every known
  * city), an unseen user-agent or an unseen service raises one combined
  * alert row.
  *
  * Batch-idiomatic shape: the per-record HBase get/test/merge/put loop
  * becomes (batch ⋈ profiles) with column-expression tests; the profile
  * merge is ProfileStore.update on the same histograms. Feed it from
  * `foreachBatch` (StreamingJobs.consumeMicroBatches) for the reference's
  * 10-second cadence.
  *
  * `auth` columns: user_name, city, coords ("lat,lon"), user_agent,
  * service. `profiles` is the (name, size, buckets) state table where
  * name = "HIST2x-" + user_name.
  */
object AuthProfiling {

  val ColdStart = 10L // HogAuth.scala:349 learn-only threshold

  private def profile(profiles: DataFrame, family: String) =
    profiles
      .filter(col("name").startsWith(s"$family-"))
      .select(expr(s"substring(name, ${family.length + 2})").as("user_name"),
        col("size").as(s"${family}_size"), col("buckets").as(s"${family}_buckets"))

  /** One row per (auth record × triggered check): check ∈
    * {city, user_agent, service}.
    */
  def atypicalAccess(auth: DataFrame, profiles: DataFrame,
      cityCoords: DataFrame, radiusKm: Double = Detection.default.allowedRadixKm,
      coldStart: Long = ColdStart): DataFrame = {
    // cityCoords: (city, coords) — known coordinates per profile city,
    // broadcast; the reference carries coords inside the histogram labels
    val h20 = profile(profiles, "HIST20")
    val h21 = profile(profiles, "HIST21")
    val h22 = profile(profiles, "HIST22")
    val joined = auth
      .join(h20, Seq("user_name"), "left")
      .join(h21, Seq("user_name"), "left")
      .join(h22, Seq("user_name"), "left")

    // a city is atypical when unseen in HIST20 AND farther than the
    // radius from EVERY known city of this user (the haversine test)
    val knownCities = map_keys(coalesce(col("HIST20_buckets"), map()))
    val withDists = joined
      .withColumn("known_city", explode_outer(knownCities))
      .join(broadcast(cityCoords.select(col("city").as("known_city"),
        col("coords").as("known_coords"))), Seq("known_city"), "left")
      .withColumn("dist_km",
        NetFunctions.haversineCoords(col("coords"), col("known_coords")))
      .groupBy((auth.columns ++ Seq("HIST20_size", "HIST20_buckets",
        "HIST21_size", "HIST21_buckets", "HIST22_size", "HIST22_buckets")).map(col): _*)
      .agg(min(col("dist_km")).as("min_city_dist_km"))

    val cityAtypical = col("HIST20_size") >= coldStart &&
      !HistogramFunctions.isTypicalEvent(coalesce(col("HIST20_buckets"), map()), col("city")) &&
      coalesce(col("min_city_dist_km"), lit(Double.MaxValue)) > radiusKm
    val uaAtypical = col("HIST21_size") >= coldStart &&
      !HistogramFunctions.isTypicalEvent(coalesce(col("HIST21_buckets"), map()), col("user_agent"))
    val svcAtypical = col("HIST22_size") >= coldStart &&
      !HistogramFunctions.isTypicalEvent(coalesce(col("HIST22_buckets"), map()), col("service"))

    withDists.select(
      col("user_name"), col("city"), col("user_agent"), col("service"),
      round(col("min_city_dist_km"), 2).as("min_city_dist_km"),
      cityAtypical.cast("int").as("atypical_city"),
      uaAtypical.cast("int").as("atypical_ua"),
      svcAtypical.cast("int").as("atypical_service"))
      .filter(col("atypical_city") === 1 || col("atypical_ua") === 1 ||
        col("atypical_service") === 1)
  }

  /** Impossible-travel detector: consecutive logins of one user whose
    * implied ground speed exceeds `maxKmh` (default ~airliner speed — a
    * human can't beat it, a stolen credential can). The geo-velocity
    * sibling of the reference's unseen-city check: that one needs a
    * learned profile, this one fires from the second login on.
    *
    * One window pass per user (lag of coords/ts over the same (user, ts)
    * sort); zero or negative gaps (clock skew, duplicate events) and
    * unknown coordinates are skipped, not alerted.
    */
  def impossibleTravel(auth: DataFrame,
      maxKmh: Double = Detection.default.travelMaxKmh): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_name")).orderBy(col("ts"))
    auth
      .withColumn("prev_city", lag(col("city"), 1).over(w))
      .withColumn("prev_coords", lag(col("coords"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("dist_km",
        NetFunctions.haversineCoords(col("prev_coords"), col("coords")))
      .withColumn("hours",
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) / lit(3.6e9))
      // 9.99e8 is haversineCoords' malformed/missing-coords sentinel (it
      // also fires when lag() is null on a user's first login) — such rows
      // are unknowns, not alerts
      .filter(col("dist_km") < 9.0e8 && col("hours").isNotNull && col("hours") > 0)
      .withColumn("speed_kmh", col("dist_km") / col("hours"))
      .filter(col("speed_kmh") > maxKmh)
      .select(col("user_name"), col("prev_city"), col("city"),
        col("prev_ts"), col("ts"),
        round(col("dist_km"), 2).as("dist_km"),
        round(col("speed_kmh"), 2).as("speed_kmh"))
  }
}
