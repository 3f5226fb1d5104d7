package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every knob here is a scale decision, not a
  * convenience default. The apps, the driver-facing mains (Verify/Bench)
  * and the perfbench harness all build their session here, so a
  * correctness dump, a bench number and a production run share one
  * configuration (`GraftExtensions` included).
  */
object GraftSession {

  /** @param shufflePartitions sized so a shuffle partition of the target
    *        workload fits comfortably in executor memory; local runs use
    *        core count, a 1000-executor cluster uses O(2× total cores)
    *        with AQE coalescing the small ones back together.
    */
  def build(master: String = "local[*]", shufflePartitions: Int =
      Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      // AQE: runtime re-planning — coalesces shuffle partitions, converts
      // sort-merge to broadcast when a side turns out small, splits skewed
      // partitions (the salting fallback for skewed keys)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // ObjectHashAggregate keeps Spark's DEFAULT sort-based fallback
      // (128 in-memory groups): an r10 A/B at the 100x fixture measured
      // the r9 session-wide raise to 65536 as neutral-to-20% SLOWER on
      // every typed-Aggregator query (h2 7.3 vs 8.8 s, h8 9.2 vs 10.4,
      // o3 4.9 vs 5.9; det4 a wash) and +28% on GraftApp's profile
      // build end-to-end - streaming sort-grouped aggregation beats
      // thousands of live map buffers. The graft aggregators stay
      // O(k)-bounded per group regardless (AggregatorsSpec pins it), so
      // the fallback is graceful: bounded buffers make a sort pass
      // cheap, and a future unbounded collect under a hot key spills
      // instead of OOMing.
      .config("spark.sql.session.timeZone", "UTC")
      // the SQL-surface domain functions (graft_logbin, graft_hamming, …)
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
