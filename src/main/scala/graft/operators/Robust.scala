package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust (median/MAD-based) statistics — outlier detection that, unlike
  * the reference's mean/stddev atypicals (`HogSFlow` thresholds) and our
  * a9 z-normalization, doesn't let the outliers drag the baseline.
  *
  * Medians are exact, computed the a17 way: a per-group window sort ranks
  * values (codegen'd sort, no value-counts map like Spark's `percentile`
  * aggregate serializes), only the ≤2 candidate rows per group survive to
  * the aggregate, and linear interpolation `lo + frac·(hi−lo)` matches
  * DuckDB's `quantile_cont` definition bit-for-bit at 6 dp.
  */
object Robust {

  /** Exact per-group quantile with linear interpolation. One window sort
    * per call — at 100 TB this is the unavoidable sort-based exact path;
    * callers that can tolerate error should use approx sketches instead.
    */
  def groupedQuantile(df: DataFrame, keys: Seq[String], value: Column,
                      p: Double, out: String): DataFrame = {
    val wg = Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .select(keys.map(col) :+ value.cast("double").as("__v"): _*)
      .withColumn("__rn", row_number().over(wg.orderBy(col("__v"))))
      .withColumn("__n", count(lit(1)).over(wg))
    val rowLo = floor((col("__n") - 1) * p) + 1 // __n is group-constant
    val vlo = max(when(col("__rn") === rowLo, col("__v")))
    val vhi = coalesce(max(when(col("__rn") === rowLo + 1, col("__v"))), vlo)
    val idx = (max(col("__n")) - 1) * p
    ranked.filter(col("__rn") === rowLo || col("__rn") === rowLo + 1)
      .groupBy(keys.map(col): _*)
      .agg((vlo + (idx - floor(idx)) * (vhi - vlo)).as(out))
  }

  /** Per-group robust outlier summary: median, MAD (median absolute
    * deviation), and the count of points with |v − med| > cutoff·MAD.
    * Two median passes are inherent (the deviations need the median
    * first); each is regime-gated (AdaptiveWidth, the a6/a23 pattern):
    * below the input-size boundary the one-window [[groupedQuantile]]
    * runs (cheapest when the whole group sorts in one task anyway);
    * above it the binned-SELECTION median ([[exactGroupedQuantiles]] —
    * bit-identical, parity-tested) takes over, because with few groups
    * the window form funnels the whole table through #groups sort tasks
    * TWICE — measured 23.8 s / 17.4× at the 100× fixture vs 12.5 s /
    * 4.0× for the selection form (which in turn costs ~2× at sf0.1,
    * hence the gate; unknown estimates choose selection — seconds of
    * overhead beats a single-task sort of the universe). The med/mad
    * outputs are one row per group — the selection form's are
    * checkpointed so downstream scans don't re-run it, and both forms'
    * broadcast into the re-joins.
    */
  def madOutlierSummary(df: DataFrame, keys: Seq[String], value: Column,
                        cutoff: Double = 3.0): DataFrame = {
    val v = value.cast("double")
    val small = graft.plans.AdaptiveWidth.isSmallInput(df)
    // (re-reading the projected frame per pass was A/B'd against a
    // MEMORY_AND_DISK persist of the projection at the 100× fixture:
    // neutral — the probe windows, not the scans, dominate — so the
    // plan stays persist-free)
    def median(in: DataFrame, vc: Column, out: String): DataFrame =
      if (small) groupedQuantile(in, keys, vc, 0.5, out)
      else exactGroupedQuantiles(in, keys, vc, Seq(0.5 -> out))
        .transform(Pin.truncate(_))
    val med = median(df, v, "med")
    val withMed = df.select(keys.map(col) :+ v.as("__v"): _*)
      .join(broadcast(med), keys)
    val mad = median(
      withMed.select(keys.map(col) :+ abs(col("__v") - col("med")).as("__d"): _*),
      col("__d"), "mad")
    withMed.join(broadcast(mad), keys)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("__v") - col("med")) > lit(cutoff) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"))
  }

  /** Exact per-group quantiles with linear interpolation, computed by
    * distributed SELECTION rather than a per-group window sort.
    *
    * [[groupedQuantile]] ranks every row with a window partitioned on the
    * group key, so its parallelism is the NUMBER OF GROUPS: with 3 groups
    * at 100 TB, three tasks sort the universe. This form never sorts more
    * than one histogram bin in one task:
    *   1. per-group n/min/max — one codegen aggregate;
    *   2. per-group `bins`-bin histogram — one map-side-combined
    *      aggregate (bounded state: ≤ `bins` counts per group);
    *   3. each requested order statistic is located in its bin via
    *      cumulative counts over the OCCUPIED bins (a tiny frame), and
    *      only those (group, bin) cells are probed and ranked — expected
    *      occupancy n/`bins` per probed bin.
    * The probe is rank-exact regardless of float bin placement because
    * `floor((v−lo)/w)` is monotone in v, so (bin, v) order is v order.
    * All-equal groups (w = 0) short-circuit to the constant. A bin
    * dominated by one hot value still sorts that bin in one task — the
    * honest bound is max-bin occupancy, not n/`bins`, under value skew.
    * Nulls are ignored (quantile_cont semantics). Interpolation is the
    * same `lo + frac·(hi−lo)` as [[groupedQuantile]], so results are
    * bit-identical (parity-tested).
    *
    * Regime note: built for the FEW-GROUPS case, where the window form
    * degenerates; the located/probe side frames it broadcasts are
    * O(groups·|ps|) rows. With millions of groups the window form is
    * already parallel — use that.
    *
    * Materialization discipline: the tiny derived frames (`stats`,
    * `located`, `ordStats` — all O(groups·|ps|) rows) are each referenced
    * by 2+ downstream branches, and Catalyst re-evaluates a subtree per
    * reference, so WITHOUT materialization every reference re-scans the
    * fact table (measured: 6+ scans, 2.2× the window form it replaced at
    * sf0.1). [[Pin.truncate]] pins each one after a single evaluation —
    * executor-block storage, no driver round-trip — cutting the plan to
    * the algorithmic three scans (stats, histogram, probe). The
    * checkpointed frames become LogicalRDDs whose size estimate is the
    * conservative default, so joins against them carry explicit
    * `broadcast` hints.
    */
  def exactGroupedQuantiles(df: DataFrame, keys: Seq[String], value: Column,
      ps: Seq[(Double, String)], bins: Int = 65536): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (p, _) => p > 0 && p <= 1 },
      s"need 0<p<=1 for every requested quantile; got ${ps.map(_._1)}")
    val kc = keys.map(col)
    val base = df.select(kc :+ value.cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)
    val stats = base.groupBy(kc: _*).agg(
      count(lit(1)).as("__n"), min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
      .withColumn("__w", (col("__hi") - col("__lo")) / lit(bins.toDouble))
      .transform(Pin.truncate(_))
    // one row per (group, p): fractional rank idx and its two order stats
    val targets = stats
      .withColumn("__p", explode(array(ps.map(p => lit(p._1)): _*)))
      .withColumn("__idx", (col("__n") - 1) * col("__p"))
      .withColumn("__rlo", (floor(col("__idx")) + 1).cast("long"))
      .withColumn("__rhi", least(col("__rlo") + 1, col("__n")))
    val flat = targets.filter(col("__w") === 0)
      .select(kc :+ col("__p") :+ col("__lo").as("__q"): _*)
    val live = targets.filter(col("__w") =!= 0)

    val binned = base
      .join(broadcast(stats.select(kc :+ col("__lo") :+ col("__w"): _*)), keys)
      .filter(col("__w") =!= 0)
      .withColumn("__bin", least(lit((bins - 1).toLong),
        floor((col("__v") - col("__lo")) / col("__w")).cast("long")))
    val counts = binned.groupBy(kc :+ col("__bin"): _*).agg(count(lit(1)).as("__c"))
    val wg = Window.partitionBy(kc: _*).orderBy(col("__bin"))
    val cum = counts
      .withColumn("__end", sum(col("__c")).over(wg))
      .withColumn("__start", col("__end") - col("__c") + 1)
    val ranks = live
      .select(kc :+ explode(array(col("__rlo"), col("__rhi"))).as("__r"): _*)
      .distinct()
    val located = cum.join(broadcast(ranks), keys)
      .filter(col("__r").between(col("__start"), col("__end")))
      .select(kc :+ col("__bin") :+ col("__r") :+
        (col("__r") - col("__start") + 1).as("__k"): _*)
      .transform(Pin.truncate(_))
    val probed = binned
      .join(broadcast(located.select(kc :+ col("__bin"): _*).distinct()),
        keys :+ "__bin", "left_semi")
      .withColumn("__bin_rn", row_number().over(
        Window.partitionBy(kc :+ col("__bin"): _*).orderBy(col("__v"))))
    val ordStats = probed.join(broadcast(located), keys :+ "__bin")
      .filter(col("__bin_rn") === col("__k"))
      .select(kc :+ col("__r") :+ col("__v").as("__ov"): _*)
      .transform(Pin.truncate(_))
    val interp = live
      .join(broadcast(ordStats.select(
          kc :+ col("__r").as("__rlo") :+ col("__ov").as("__vlo"): _*)),
        keys :+ "__rlo")
      .join(broadcast(ordStats.select(
          kc :+ col("__r").as("__rhi") :+ col("__ov").as("__vhi"): _*)),
        keys :+ "__rhi")
      .select(kc :+ col("__p") :+
        (col("__vlo") + (col("__idx") - floor(col("__idx"))) *
          (col("__vhi") - col("__vlo"))).as("__q"): _*)
    val aggs = ps.map { case (p, name) =>
      max(when(col("__p") === lit(p), col("__q"))).as(name) }
    interp.unionByName(flat).groupBy(kc: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Single-pass approximate per-group quantile via fixed-width value
    * bins — the bounded-memory alternative to `groupedQuantile`'s exact
    * window sort. Aggregation state is one count per occupied bin (≤
    * range/width entries), so at 100 TB this is one map-side-combined
    * shuffle with no global sort; error is bounded by `width`.
    *
    * Estimate: with `target = p·n`, find the first bin whose cumulative
    * count reaches target and interpolate linearly inside it:
    * `width · (bin + (target − cum_below)/bin_count)`. Deterministic —
    * identical double math re-derives identically in the DuckDB oracle.
    */
  def binnedQuantile(df: DataFrame, keys: Seq[String], value: Column,
                     width: Double, p: Double, out: String): DataFrame = {
    require(width > 0 && p > 0 && p <= 1, s"need width>0, 0<p<=1; got $width, $p")
    val binned = df
      .select(keys.map(col) :+ floor(value.cast("double") / width).cast("long").as("__bin"): _*)
      .groupBy(keys.map(col) :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__c"))
    val wg = Window.partitionBy(keys.map(col): _*)
    val cum = binned
      .withColumn("__cum", sum(col("__c")).over(wg.orderBy(col("__bin"))))
      .withColumn("__n", sum(col("__c")).over(wg))
    val target = lit(p) * col("__n")
    cum.filter(col("__cum") >= target && (col("__cum") - col("__c")) < target)
      .groupBy(keys.map(col): _*)
      .agg(round(
        lit(width) * (max(col("__bin")) + (max(target) - max(col("__cum") - col("__c"))) /
          max(col("__c"))), 6).as(out))
  }

  /** Exact equal-frequency binning (ntile semantics) by distributed
    * selection — `(bin, n, lo, hi)` per tile, never sorting the table.
    *
    * `ntile(k)` needs a TOTAL order, so the window form runs on one
    * partition — the whole table through a single task's sort (WindowExec
    * even warns). But the ntile CONTRACT is closed-form in the global
    * rank: with n rows, `q = n/k` and `r = n mod k`, tile `t` holds ranks
    * `[(t−1)q + min(t−1,r) + 1, tq + min(t,r)]` — sizes are arithmetic,
    * and each tile's lo/hi VALUE is the order statistic at its boundary
    * ranks (ties straddling a boundary contribute the same value to both
    * sides, so the arbitrary tie split cannot change lo/hi/n). Those
    * ≤ 2k order statistics are located the [[exactGroupedQuantiles]] way:
    * bounded-state histogram → cumulative counts over occupied bins →
    * rank one probed bin per boundary (expected occupancy n/`bins`).
    * Empty tiles (n < k) are dropped, matching what `ntile` emits.
    */
  def equalFrequencyBins(df: DataFrame, value: Column, k: Int,
                         bins: Int = 65536): DataFrame = {
    require(k > 0, s"need k>0 tiles; got $k")
    val base = df.select(value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    // same materialization discipline as exactGroupedQuantiles: the tiny
    // derived frames (one-row stats, ≤`bins`-row counts, ≤2k-row located /
    // ordStats) each feed 2+ downstream branches, and without pinning each
    // reference re-scans the fact table (measured ~10 scans, 4.5× the
    // single-task ntile this replaced at sf0.1); Pin.truncate holds
    // them to one evaluation and the plan to its three algorithmic scans
    val stats = base.agg(
      count(lit(1)).as("__n"), min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
      .withColumn("__w", (col("__hi") - col("__lo")) / lit(bins.toDouble))
      .transform(Pin.truncate(_))
    val tiles = stats
      .withColumn("__t", explode(sequence(lit(1L), lit(k.toLong))))
      .withColumn("__q", floor(col("__n") / k).cast("long"))
      .withColumn("__r", pmod(col("__n"), lit(k.toLong)))
      .withColumn("__size",
        when(col("__t") <= col("__r"), col("__q") + 1).otherwise(col("__q")))
      .filter(col("__size") > 0)
      .withColumn("__start",
        (col("__t") - 1) * col("__q") + least(col("__t") - 1, col("__r")) + 1)
      .withColumn("__end", col("__t") * col("__q") + least(col("__t"), col("__r")))
    // all-equal input (w = 0): every tile is the constant value
    val flat = tiles.filter(col("__w") === 0).select(
      col("__t"), col("__size"), col("__lo").as("__vstart"), col("__lo").as("__vend"))
    val live = tiles.filter(col("__w") =!= 0)

    // one-row stats frame onto the fact side: the same deliberate
    // tiny-broadcast crossJoin as a9/t12 (allowlisted in
    // PlanDisciplineSpec) — an equi-join on a constant key would
    // constant-fold to the same nested-loop plan anyway
    val binned = base
      .crossJoin(broadcast(stats.select(col("__lo"), col("__w"))))
      .filter(col("__w") =!= 0)
      .withColumn("__bin", least(lit((bins - 1).toLong),
        floor((col("__v") - col("__lo")) / col("__w")).cast("long")))
    val counts = binned.groupBy(col("__bin")).agg(count(lit(1)).as("__c"))
      .transform(Pin.truncate(_))
    // Cumulative counts over occupied bins WITHOUT a global window (a
    // window partitioned on the constant `__g` constant-folds to "no
    // partition defined" — the single-task shape this operator exists to
    // avoid): two-level chunked prefix sum. Within-chunk cumulation is a
    // window partitioned on the chunk key (≤1024 rows per chunk); the
    // ≤64 chunk offsets come from a triangular explode + equi-join on
    // the chunk-total frame (≤64 rows — no theta-join, no window).
    val chunked = counts.withColumn("__chunk", shiftrightunsigned(col("__bin"), 10))
    val chunkTotals = chunked.groupBy(col("__chunk")).agg(sum(col("__c")).as("__ct"))
    val chunkPrefix = chunkTotals
      .select(col("__chunk"), explode(sequence(lit(0L), col("__chunk"))).as("__src"))
      .join(chunkTotals.select(col("__chunk").as("__src"), col("__ct")), Seq("__src"))
      .groupBy(col("__chunk")).agg(sum(col("__ct")).as("__inclusive"))
      .join(chunkTotals, Seq("__chunk"))
      .select(col("__chunk"), (col("__inclusive") - col("__ct")).as("__offset"))
    val wc = Window.partitionBy(col("__chunk")).orderBy(col("__bin"))
    val cum = chunked
      .withColumn("__incum", sum(col("__c")).over(wc))
      .join(broadcast(chunkPrefix), Seq("__chunk"))
      .withColumn("__bend", col("__incum") + col("__offset"))
      .withColumn("__bstart", col("__bend") - col("__c") + 1)
    val ranks = live
      .select(explode(array(col("__start"), col("__end"))).as("__r"))
      .distinct()
    // ≤2k boundary ranks against ≤`bins` occupied-bin rows — bounded by
    // construction on both sides
    val located = cum.crossJoin(broadcast(ranks))
      .filter(col("__r").between(col("__bstart"), col("__bend")))
      .select(col("__bin"), col("__r"), (col("__r") - col("__bstart") + 1).as("__k"))
      .transform(Pin.truncate(_))
    val probed = binned
      .join(broadcast(located.select(col("__bin")).distinct()), Seq("__bin"), "left_semi")
      .withColumn("__bin_rn",
        row_number().over(Window.partitionBy(col("__bin")).orderBy(col("__v"))))
    val ordStats = probed.join(broadcast(located), Seq("__bin"))
      .filter(col("__bin_rn") === col("__k"))
      .select(col("__r"), col("__v").as("__ov"))
      .transform(Pin.truncate(_))
    live
      .join(broadcast(ordStats.select(col("__r").as("__start"), col("__ov").as("__vstart"))),
        Seq("__start"))
      .join(broadcast(ordStats.select(col("__r").as("__end"), col("__ov").as("__vend"))),
        Seq("__end"))
      .select(col("__t"), col("__size"), col("__vstart"), col("__vend"))
      .unionByName(flat)
      .select(col("__t").as("bin"), col("__size").as("n"),
        col("__vstart").as("lo"), col("__vend").as("hi"))
  }
}
