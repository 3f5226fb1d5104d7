package graft.plans

import org.apache.spark.sql.DataFrame

/** Input-size gate for the explicit wide-exchange / complete-mode
  * aggregate plans ([[graft.operators.Buckets.sharedGramPairs]],
  * copurchase pairs, the a6 distinct-branch split).
  *
  * Those plans exist for the LARGE regime: a pair/distinct expansion
  * whose keys are mostly unique per task makes the default map-side
  * partial aggregate externalize its hash map instead of combining
  * (9.9–24 GB of measured spill at the 50×/100× fixtures), so they
  * pre-widen the exchange and skip the partial. But the widening is pure
  * constant overhead in the SMALL regime — two extra exchanges took a6
  * from 1.75 s to 4.4 s and a23 from ~3 s to ~8 s at sf0.1, where the
  * plain plan never came close to spilling. The right width is a
  * function of input size — exactly the call a 1000-executor job makes
  * when sizing a stage's task count — so the gate reads the size the
  * OPTIMIZER already estimated (file-scan bytes, pruned through
  * projections/filters; explode output tracks its input's byte
  * estimate, which is what the per-task aggregation state scales with)
  * and falls back to the plain plan below the site's threshold.
  *
  * Unknown estimates (the optimizer defaults toward Long.MaxValue when
  * a source publishes no stats) choose the WIDE plan: the failure mode
  * of widening a small input is seconds of exchange overhead; the
  * failure mode of not widening a large one is gigabytes of spill.
  *
  * Both regimes produce identical rows — this gates plan shape only,
  * and the oracle checks run the same either way.
  */
object AdaptiveWidth {

  /** Optimizer size estimate of `df` in bytes (plan-time only: analyzes
    * and optimizes the subplan, runs nothing).
    */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when `df`'s estimate is under `thresholdBytes` — the regime
    * where the plain partial-aggregate plan is both spill-safe and
    * cheaper than explicit wide exchanges.
    */
  def isSmall(df: DataFrame, thresholdBytes: Long): Boolean =
    estimatedBytes(df) < thresholdBytes

  /** Per-task input-byte budget of the plain partial-aggregate plan —
    * how many INPUT bytes one task's aggregation hash map absorbs before
    * the expansion can outgrow it. One conf key, deployment-sized:
    * the regime boundary is `numShufflePartitions × taskInputBytes`,
    * so a 1000-executor job with thousands of shuffle partitions widens
    * only at proportionally larger inputs instead of inheriting a
    * local[32] constant. 256 KiB/task reproduces the measured sf0.1 /
    * 100× boundaries exactly at the local default (32 partitions →
    * 8 MiB).
    */
  val TaskInputBytesKey = "spark.graft.adaptiveWidth.taskInputBytes"
  val DefaultTaskInputBytes: Long = 256L << 10

  /** Config-derived regime gate for the wide-exchange call sites.
    * `expansionFactor` is the SITE's output-per-input-byte multiple
    * relative to the baseline lineitem pair/distinct plans (the gram
    * pair pipelines expand ~4× harder per input byte, so their boundary
    * sits 4× lower). At 32 shuffle partitions the derived thresholds are
    * the previously hard-coded 8 MiB (factor 1) and 2 MiB (factor 4).
    */
  def isSmallInput(df: DataFrame, expansionFactor: Int = 1): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    val perTask = conf.getConfString(TaskInputBytesKey,
      DefaultTaskInputBytes.toString).toLong
    isSmall(df, conf.numShufflePartitions * perTask / expansionFactor)
  }

  /** Target bytes of (pre-expansion) input per widened partition.
    * Calibrated on the 100× natural fixture: the winnowed-gram pair
    * pipeline at 4 MiB/partition lands at ~44 partitions — within
    * measurement noise of the empirically fastest width (48, found by
    * the 8-core scaling probe) — while the old cores×6 rule produced
    * 192 partitions and ran 2.7× SLOWER at the same thread count
    * (18-21 s vs 6.8-7.5 s, A/B'd at local[32] with only
    * spark.sql.shuffle.partitions varied). Per-partition payloads of
    * 1-2 MB are below the regime where the bypass-merge writer and
    * per-task constant costs amortize (guide §2.2: fewer, larger
    * partitions).
    */
  val WidthTargetBytesKey = "spark.graft.adaptiveWidth.widthTargetBytes"
  val DefaultWidthTargetBytes: Long = 4L << 20

  /** Exchange width for the large regime — derived from the DATA SIZE
    * the optimizer already estimated, not from a core-count multiple
    * (r13; previously `factor` × shuffle parallelism, a constant tuned
    * at local[32] that over-partitioned 40 MB of grams into 192 × 2 MB
    * slivers): `estimate × expansionFactor / widthTargetBytes`
    * partitions, clamped to [session parallelism, factor × session
    * parallelism]. The lower clamp keeps every core busy; the upper
    * clamp bounds task count exactly like the old rule (and keeps the
    * local default under spark.shuffle.sort.bypassMergeThreshold = 200,
    * retaining the spill-free bypass-merge writer). `expansionFactor`
    * is the site's output-per-input-byte multiple — the same knob the
    * isSmallInput gate takes — so a quadratic pair expansion widens
    * proportionally harder than a distinct. Unknown estimates
    * (Long.MaxValue-ish) hit the upper clamp: the old width, the safe
    * side.
    */
  def widened(df: DataFrame, factor: Int = 6, expansionFactor: Int = 1): Int = {
    val conf = df.sparkSession.sessionState.conf
    val target = conf.getConfString(WidthTargetBytesKey,
      DefaultWidthTargetBytes.toString).toLong
    val lo = BigInt(conf.numShufflePartitions)
    val hi = lo * factor
    val byData = (estimatedBytes(df) * expansionFactor + target - 1) / target
    byData.max(lo).min(hi).toInt
  }
}
