package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.Catalog
import graft.operators.{DataSkipping, EventAnalytics, GraphOps, Integrity, Layout, Robust, RuntimeFilter, Scd, Skew}

/** Beyond-reference event-analytics and join-acceleration operators:
  * ordered funnels, cohort retention, robust (median/MAD) outliers, and
  * bloom-runtime-filtered semi-joins. Each has a DuckDB oracle.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  private val FunnelStages = Seq("signup", "view", "click", "purchase")

  /** Degenerate-basket cap for co-purchase pair expansion: a basket of n
    * items expands to C(n,2) pairs inside ONE task, so an uncapped 10⁵-item
    * basket means 5·10⁹ rows from a single order. TPC-H orders carry ≤7
    * lines, so 64 is semantics-neutral on the oracle data while bounding
    * worst-case expansion to C(64,2)=2016 pairs per basket.
    */
  val MaxBasketSize = 64

  /** Market-basket co-purchase pair support (frequent-itemset k=2 pass)
    * with the basket-size guard ([[graft.operators.Buckets.kept]], the
    * near-dup generators' megabucket cap) applied BEFORE the self-join. Exposed
    * for direct testing with synthetic degenerate baskets.
    */
  def copurchasePairs(lineitem: DataFrame, maxBasket: Int = MaxBasketSize): DataFrame = {
    // SMALL regime (r13): ONE basket-keyed exchange feeds the whole
    // pair stage — repartitioning on ok FIRST makes the distinct, the
    // groupBy(ok) gate, the semi-join and the pair self-join all reuse
    // the same partitioning (HashPartitioning(ok) clusters (ok, pk)
    // too), so the only other full exchange left is the irreducible
    // pair aggregate. Measured 1.8 → 1.0 s at sf0.1.
    // LARGE regime: that same fusion is a SPILL TRAP — co-partitioning
    // everything lets Spark fuse the dedup hash map, the gate build,
    // the semi-join build and the pair expansion into one stage's
    // memory (measured 9-21 GB of spill at the 100× fixture at every
    // width tried), so past the AdaptiveWidth boundary the stages stay
    // SEPARATED exactly as in r12: dedup below its own (ok, pk)
    // exchange (map-side partial combine), then a widened ok re-key
    // for the gate/self-join — 0 spill at 100×.
    val op0 = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val small = graft.plans.AdaptiveWidth.isSmallInput(op0)
    val op = (if (small) op0.repartition(col("ok")) else op0).distinct()
    // basket-size gate as a fixed-width count + shuffle-hash semi-join
    // (not a window count: window partitioning SORTS the whole basket
    // stream to size buckets it is mostly about to keep anyway), and
    // shuffle-hash on the pair self-join (sort-merge would sort both
    // sides on ok; baskets are ≤ maxBasket so a per-partition hash build
    // is bounded). Identical result set, no order-key sorts anywhere —
    // the remaining cost is the irreducible Σ basket² pair aggregate.
    val sized = graft.operators.Buckets.kept(op, Seq("ok"), 2, maxBasket)
    // Wide pair stage (large regime): the self-join explodes Σ basket²
    // pair rows, and the pairs are mostly unique per task — so the
    // map-side combine of a default groupBy externalizes its hash map
    // instead of combining (6 GB of spill at 50× through 32 tasks).
    // Re-keying the SMALL basket stream to 6× partitions gives the
    // expansion the task count its OUTPUT needs (both join sides share
    // the partitioning — no extra exchange), and the explicit pair
    // exchange + complete-mode aggregate skips the useless partial
    // entirely (same two decisions, same multiplier rationale, as
    // Buckets.sharedGramPairs). Below the AdaptiveWidth threshold the
    // plain partial-aggregate plan is spill-safe and ~2.5× cheaper (no
    // pre/post exchanges), so the widening only engages when the input
    // estimate says the expansion can outgrow per-task hash maps.
    // small: no kept re-key — op is already ok-partitioned and the
    // semi-join preserves it, so both self-join sides reuse that one
    // exchange. large: the r12 widened re-key (see the regime note).
    val keptBase = op.join(sized.hint("shuffle_hash"), Seq("ok"), "left_semi")
    val kept =
      if (small) keptBase
      else keptBase.repartition(graft.plans.AdaptiveWidth.widened(op0), col("ok"))
    val pairs = kept.as("a").join(kept.as("b").hint("shuffle_hash"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("p1"), col("b.pk").as("p2"))
    val wide =
      if (small) pairs
      else pairs.repartition(
        graft.plans.AdaptiveWidth.widened(op0, expansionFactor = 4),
        col("p1"), col("p2"))
    wide.groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
  }

  /** Suppliers co-occurring in an order, as a canonical undirected edge
    * list (u < v, distinct).
    */
  private def coSupplierEdges(s: SparkSession, dir: String): DataFrame = {
    // The quantity filter keeps the graph sparse/irregular (the unfiltered
    // co-supplier graph saturates to a near-clique, which exercises
    // nothing); it also demonstrates scan-level pushdown under the pair join.
    val ls = Catalog.lineitem(s, dir)
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    GraphOps.canonicalEdges(
      ls.as("a").join(ls.as("b"), col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
        .select(col("a.sk").as("u"), col("b.sk").as("v")),
      "u", "v")
  }

  val queries: Map[String, Q] = Map(
    // G1: ordered funnel — users per max stage reached; stages must occur
    // in strictly increasing event-time order, each within a 24 h
    // conversion window of the previous stage.
    "g1_funnel" -> ((s, dir) => {
      EventAnalytics.funnelReach(Catalog.events(s, dir), FunnelStages,
          maxGapUs = Some(24L * 3600 * 1000000))
        .orderBy(col("reached"))
    }),

    // G2: weekly cohort retention triangle.
    "g2_cohort_retention" -> ((s, dir) => {
      EventAnalytics.cohortRetention(Catalog.events(s, dir))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // A21: robust outliers — median/MAD per event type, |v−med| > 3·MAD.
    "a21_mad_outliers" -> ((s, dir) => {
      Robust.madOutlierSummary(Catalog.events(s, dir), Seq("event_type"),
          col("value"), cutoff = 3.0)
        .orderBy(col("event_type"))
    }),

    // E2: batch sessionization — 30-minute-gap sessions per user over the
    // event log (one window pass; the user-key exchange is reused by the
    // per-session aggregate). Timestamps surface as epoch micros so the
    // oracle compare is pure integer.
    "e2_sessionize" -> ((s, dir) => {
      EventAnalytics.sessionize(Catalog.events(s, dir), gapUs = 1800L * 1000000)
        .select(col("user_id"), col("session_idx"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // GR1/GR2: graph structure over the co-supplier graph (suppliers
    // linked when they serve the same order — per-order supplier sets are
    // small, so the pair expansion is bounded by orders × C(7,2)).
    "gr1_degree_dist" -> ((s, dir) => {
      GraphOps.degreeDistribution(coSupplierEdges(s, dir))
        .orderBy(col("degree"))
    }),

    // Exact triangle count with degree-ordered orientation — the
    // O(m^{3/2})-bounded 2-path join, closed by a canonical-edge semi-join.
    "gr2_triangles" -> ((s, dir) => {
      GraphOps.triangleCount(coSupplierEdges(s, dir))
    }),

    // GR4: local clustering coefficient — per-node triangle participation
    // over the co-supplier graph (the community-density signal).
    "gr4_clustering" -> ((s, dir) => {
      GraphOps.clusteringCoefficient(coSupplierEdges(s, dir))
        .orderBy(col("node"))
    }),

    // GR3: fixed-point PageRank, 10 synchronous rounds of integer rank
    // flow — bit-exact across engines (floating-point PageRank isn't:
    // parallel double sums associate differently).
    "gr3_pagerank" -> ((s, dir) => {
      GraphOps.pageRankFixedPoint(coSupplierEdges(s, dir), iters = 10)
        .orderBy(col("node"))
    }),

    // GR5: multi-source BFS — minimum hop count (bounded at 4) from the
    // seed suppliers (suppkey ≡ 0 mod 50) through the co-supplier graph.
    // The reachability/blast-radius primitive (supply-chain contagion,
    // contamination spread through near-dup links). Frontier-relational
    // rounds with lineage truncation; the oracle is a DuckDB recursive
    // CTE bounded by the same hop cap.
    "gr5_bfs_hops" -> ((s, dir) => {
      val edges = coSupplierEdges(s, dir)
      val seeds = edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node"))).distinct()
        .filter(col("node") % 50 === 0)
      GraphOps.bfsHops(edges, seeds, maxHops = 4)
        .orderBy(col("node"))
    }),

    // E3: SCD2 dimension build from the event log — validity intervals
    // per (user, event_type) change, no-op changes collapsed; epoch-micro
    // interval bounds for pure-integer oracle compare.
    "e3_scd2" -> ((s, dir) => {
      Scd.scd2(Catalog.events(s, dir), Seq("user_id"), "ts",
          Seq("event_type"), orderCols = Seq("event_id"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"),
          col("is_current"))
        .orderBy(col("user_id"), col("from_us"))
    }),

    // E4: CDC merge-apply — fold the orders feed (as an I/U/D changelog:
    // every 37th orderkey is a delete) onto a customer-balance base
    // snapshot (custkeys ≡ 0 mod 3 withheld so some changes are inserts).
    // Last writer per custkey wins by (orderdate, orderkey); MERGE INTO
    // semantics as one window pass + a key-co-partitioned outer join.
    "e4_cdc_apply" -> ((s, dir) => {
      val base = Catalog.customer(s, dir)
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("custkey"), col("c_acctbal").as("acctbal"))
      val changes = Catalog.orders(s, dir).select(
        col("o_custkey").as("custkey"),
        when(col("o_orderkey") % 37 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("o_orderdate").as("ts"),
        col("o_orderkey").as("seq"),
        col("o_totalprice").as("acctbal"))
      Scd.cdcApply(base, changes, Seq("custkey"), "op", "ts",
          Seq("acctbal"), orderCols = Seq("seq"))
        .withColumn("acctbal", round(col("acctbal"), 2))
        .orderBy(col("custkey"))
    }),

    // C1: cross-engine table fingerprint — per-bucket (count, xor of
    // 60-bit md5 row hashes): order/partitioning-independent, localizes a
    // migration mismatch to 1/16 of the table.
    "c1_table_fingerprint" -> ((s, dir) => {
      Integrity.tableFingerprint(Catalog.lineitem(s, dir),
          Seq("l_orderkey", "l_linenumber", "l_returnflag"), buckets = 16)
        .orderBy(col("bucket"))
    }),

    // C2: zone-map build — per-bucket (count, min/max ship date): the
    // data-skipping stats a 100 TB scan consults to prune buckets before
    // reading them (DataSkippingSpec proves the pruned scan is exact).
    "c2_zonemap" -> ((s, dir) => {
      DataSkipping.zoneMap(
          Catalog.lineitem(s, dir).withColumn("sd", col("l_shipdate").cast("date")),
          expr("l_orderkey DIV 4096"), Seq("sd"))
        .orderBy(col("bucket"))
    }),

    // C7: Z-order layout cells — Morton-interleave (l_partkey, l_suppkey)
    // into a 16-bit z-value and zone-map the coarse cells. Each cell's
    // per-dim min/max envelope is narrow BY CONSTRUCTION of the curve,
    // which is exactly what makes a 2-dim box predicate prunable at
    // 100 TB (LayoutSpec measures the pruning rate; zCluster writes the
    // physical layout). Integer-exact bit arithmetic, codegen'd.
    "c7_zorder_cells" -> ((s, dir) => {
      Layout.zCells(
          Catalog.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey")),
          Seq("l_partkey", "l_suppkey"), bits = 8, cellShift = 10)
        .withColumnRenamed("bucket", "cell")
        .orderBy(col("cell"))
    }),

    // C8: bucketed co-located join — both fact tables land ONCE in a
    // bucketBy(join key) layout (Layout.ensureBucketed; rebuilt only when
    // the catalog lacks them), after which the large×large
    // lineitem⋈orders join plans a SortMergeJoin with NO Exchange on
    // either side (BucketedJoinSpec asserts the plan). At 100 TB this
    // turns the most expensive per-query shuffle into a one-time write
    // cost amortized over every join keyed on the same column. Revenue
    // math follows the q2/q3 integer-cents discipline.
    "c8_bucketed_join" -> ((s, dir) => {
      val tag = f"${dir.hashCode & 0x7fffffff}%x"
      val li = Layout.ensureBucketed(s, s"lineitem_$tag", "l_orderkey", 16)(
        Catalog.lineitem(s, dir).select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4")))
      val ord = Layout.ensureBucketed(s, s"orders_$tag", "o_orderkey", 16)(
        Catalog.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("rev_e4")) / 10000.0, 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),

    // C9: directory-partition pruning — events land ONCE partitioned by
    // day (Layout.ensurePartitioned), then a one-day query prunes every
    // other day's directories at planning time (PartitionPruningSpec
    // asserts numPartitions==1 on the executed scan). The coarsest,
    // cheapest data skipping at 100 TB: a day's query reads a day's
    // files. The probed day is the table's min — a one-row driver
    // lookup over the partition column only. Integer aggregates keep
    // the contract summation-order-proof across engines.
    "c9_partition_pruning" -> ((s, dir) => {
      val tag = f"${dir.hashCode & 0x7fffffff}%x"
      val ev = Layout.ensurePartitioned(s, s"events_$tag", "event_date")(
        Catalog.events(s, dir).select(col("user_id"), col("event_type"),
          col("ts"), to_date(col("ts")).as("event_date")))
      val day = ev.agg(min(col("event_date"))).head.getDate(0)
      ev.filter(col("event_date") === lit(day))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // C10: DYNAMIC partition pruning — c9's static literal becomes a
    // runtime value: the day-partitioned fact joins a materialized
    // calendar dimension (Layout.ensureTable; is_busy = ≥80% of the max
    // daily volume, computed once at dim-build time) filtered on that
    // NON-key column, so the prunable day set only exists at run time.
    // Catalyst plants a dynamicpruningexpression on the fact scan that
    // reuses the dim broadcast, and only the busy days' directories are
    // read (PartitionPruningSpec asserts both). THE star-schema scan
    // pattern at 100 TB: dim predicates prune fact partitions without
    // any hand-written date literal.
    "c10_dynamic_pruning" -> ((s, dir) => {
      val tag = f"${dir.hashCode & 0x7fffffff}%x"
      val fact = Layout.ensurePartitioned(s, s"events_$tag", "event_date")(
        Catalog.events(s, dir).select(col("user_id"), col("event_type"),
          col("ts"), to_date(col("ts")).as("event_date")))
      val cal = Layout.ensureTable(s, s"calendar_$tag") {
        val dayStats = Catalog.events(s, dir)
          .groupBy(to_date(col("ts")).as("event_date"))
          .agg(count(lit(1)).as("day_n"))
        dayStats
          .crossJoin(broadcast(dayStats.agg(max(col("day_n")).as("max_n"))))
          .select(col("event_date"), col("day_n"),
            when(col("day_n") >= col("max_n") * 0.8, "busy")
              .otherwise("quiet").as("day_class"))
      }
      // EqualTo on a string attribute: a bare boolean flag would be
      // simplified to a lone attribute reference, which the DPP rule's
      // selectivity check does not recognize as a pruning predicate
      fact.join(broadcast(cal.filter(col("day_class") === "busy")
          .select(col("event_date"))), Seq("event_date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_date")).as("n_busy_days"))
        .orderBy(col("event_type"))
    }),

    // A22: single-pass binned quantile estimate (width-1 value bins,
    // p95 via cumulative counts + in-bin interpolation) — the bounded-
    // memory alternative to the a17/a21 exact window sort.
    "a22_binned_quantile" -> ((s, dir) => {
      Robust.binnedQuantile(Catalog.events(s, dir), Seq("event_type"),
          col("value"), width = 1.0, p = 0.95, out = "p95_est")
        .orderBy(col("event_type"))
    }),

    // C4: version reconciliation — row-level two-sided diff between the
    // table and a deterministically mutated copy (the drill-down after a
    // c1 fingerprint mismatch localizes a bucket).
    "c4_table_diff" -> ((s, dir) => {
      val base = Catalog.lineitem(s, dir)
      val mutated = base.withColumn("l_quantity",
        when(col("l_orderkey") % 997 === 0, col("l_quantity") + 1)
          .otherwise(col("l_quantity")))
      Integrity.diffTables(base, mutated,
          Seq("l_orderkey", "l_linenumber", "l_quantity"))
        .orderBy(col("side"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // C3: data-quality gate — null/range/format rules in ONE shared scan
    // (each rule is a conditional count) plus a referential orphan check;
    // the pipeline admission test run before 100 TB enters curation.
    "c3_quality_report" -> ((s, dir) => {
      val li = Catalog.lineitem(s, dir)
      val rules = Seq(
        "null_orderkey" -> col("l_orderkey").isNull,
        "qty_out_of_range" -> !col("l_quantity").between(0, 50),
        "bad_returnflag" -> !col("l_returnflag").isin("A", "N", "R"),
        "discount_over_10pct" -> (col("l_discount") > 0.10))
      Integrity.qualityReport(li, rules)
        .unionByName(Integrity.orphanCount(li, "l_orderkey",
          Catalog.orders(s, dir), "o_orderkey", "orphan_orderkey"))
        .orderBy(col("check"))
    }),

    // A25: unpivot/melt — wide part attributes to long (attr, val) form,
    // the inverse of a19's pivot.
    "a25_unpivot" -> ((s, dir) => {
      Catalog.part(s, dir)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "attr", "val")
        .orderBy(col("p_partkey"), col("attr"))
    }),

    // A26: equal-frequency binning — order totals cut into deciles
    // (ntile semantics), per-bin count and value range. NOT the ntile
    // window: that needs a total order, so WindowExec runs the whole
    // table through ONE partition (it warns about exactly this) — the
    // closed-form tile boundaries + distributed order-statistic
    // selection in Robust.equalFrequencyBins produce the identical
    // (bin, n, lo, hi) contract with no single-task sort.
    "a26_ntile_bins" -> ((s, dir) => {
      graft.operators.Robust.equalFrequencyBins(
          Catalog.orders(s, dir), col("o_totalprice"), 10)
        .select(col("bin").cast("int").as("decile"), col("n"),
          round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"))
        .orderBy(col("decile"))
    }),

    // A27: rolling time-range window — per user, events in the PRECEDING
    // hour (range frame on event time, not row count): the rate-limit /
    // burst-detection shape a18's cumulative rows frame can't express.
    "a27_rolling_count" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000, 0)
      Catalog.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("n_last_hour", count(lit(1)).over(w))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // A30: exponential time-decay activity profile — the recency
    // weighting every behavioral-profile system runs (a login last night
    // counts ~full, one from last month ~nothing; the event-grain dual of
    // H1's histogram merge-with-decay). Each event weighs
    // 2^(-age/halflife) against the corpus' own max timestamp (anchor is
    // data-derived, so the query is deterministic, not wall-clock-
    // dependent); per-event weights fixed-point to 1e-6 BIGINT (t24
    // convention) so the per-user sums are summation-order-exact. One
    // scan, a one-row broadcast anchor, one map-side-combined aggregate.
    // Residual parity risk (t24/t35 class): the shared-ln2 literal and
    // identical op order MINIMIZE but cannot eliminate JVM-vs-DuckDB
    // libm drift — if w*1e6 ever lands within ~1 ulp of a .5 rounding
    // boundary on a new fixture, the two engines may round apart. Verified
    // exact on sf0.01/sf0.1; diagnose a future hash mismatch here first.
    "a30_decay_profile" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("ts_us"))
      val anchor = ev.agg(max(col("ts_us")).as("anchor_us"))
      val halflifeSec = 604800.0 // 7 days
      val ln2 = 0.6931471805599453 // literal in BOTH engines — no ln(2) drift
      ev.crossJoin(broadcast(anchor))
        .withColumn("w",
          exp(lit(-ln2) * ((col("anchor_us") - col("ts_us")) / 1e6) / halflifeSec))
        .select(col("user_id"),
          round(col("w") * 1e6, 0).cast("long").as("w_e6"),
          round(col("value") * col("w") * 1e6, 0).cast("long").as("v_e6"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("w_e6")).as("decayed_count_e6"),
          sum(col("v_e6")).as("decayed_value_e6"))
        .orderBy(col("user_id"))
    }),

    // A29: forward-fill gap imputation — carry each user's last observed
    // reading over later null rows (IoT/metrics downsampling repair; the
    // fixture's value column is dense, so 4 of 5 readings are nulled
    // deterministically first). One window pass per user ordered by
    // (ts, event_id); `last(ignoreNulls)` scans the running frame.
    "a29_gap_fill" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Catalog.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          when(col("event_id") % 5 === 0, round(col("value"), 6)).as("v"))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("filled"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // A24: hourly volume anomaly — per event type, hours whose count
    // exceeds that type's mean + 3σ (the z-score detector at the
    // time-bucket grain: one count pass, one tiny stats table joined
    // back broadcast).
    "a24_hourly_anomaly" -> ((s, dir) => {
      val hourly = Catalog.events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(avg(col("n")).as("mu"), stddev_pop(col("n")).as("sd"))
      hourly.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), unix_millis(col("hr")).as("hr_ms"), col("n"),
          (col("n") > col("mu") + lit(3) * col("sd")).cast("int").as("flag"),
          round(col("mu"), 6).as("mu"), round(col("sd"), 6).as("sd"))
        .orderBy(col("event_type"), col("hr_ms"))
    }),

    // A23: market-basket co-purchase pairs — top part pairs by order
    // support. The pair expansion is per-order (≤ C(lines,2)), then one
    // count shuffle on the pair key — the frequent-itemset k=2 pass that
    // never goes all-pairs across orders. Baskets above MaxBasketSize are
    // dropped before the self-join: one 10⁵-item degenerate basket would
    // otherwise expand to 5·10⁹ pairs inside a single task (the Buckets
    // megabucket cap); single-item
    // baskets produce no pairs and are pruned for free too.
    "a23_copurchase_pairs" -> ((s, dir) =>
      copurchasePairs(Catalog.lineitem(s, dir)).limit(20)),

    // J11: salted exact join — probe-side salt scatter + build-side
    // replication; result identical to the plain join, but no single
    // reducer ever owns a hot key's full probe set.
    "j11_salted_join" -> ((s, dir) => {
      val small = Catalog.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(Catalog.lineitem(s, dir), small, Seq("l_suppkey"), salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_nationkey"))
    }),

    // B1: bloom-prefiltered exact semi-join — lineitems of urgent orders.
    // The bloom bitmap (128 KiB for 2^20 bits) prunes non-matching probe
    // rows before the shuffle; the exact semi-join keeps results exact.
    "b1_bloom_semijoin" -> ((s, dir) => {
      val urgent = Catalog.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      RuntimeFilter.bloomSemiJoin(Catalog.lineitem(s, dir), "l_orderkey",
          urgent, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),
  )

  /** 10 unrolled PageRank rounds (mirrors GraphOps.pageRankFixedPoint's
    * integer arithmetic exactly; DuckDB `//` = Spark `DIV` on positives).
    */
  private val pageRankSql: String = {
    val rounds = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT dg.node, 150000 + (85 * COALESCE(c.m, 0)) // 100 AS r
         |  FROM deg dg LEFT JOIN (
         |    SELECT e.d AS node, SUM(pr.r // sd.deg) AS m
         |    FROM e JOIN r${i - 1} pr ON pr.node = e.s
         |           JOIN deg sd ON sd.node = e.s
         |    GROUP BY 1) c ON c.node = dg.node)"""
    }.mkString(",\n")
    s"""WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
       |            WHERE l_quantity > 45),
       |ce AS (SELECT DISTINCT a.sk AS u, b.sk AS v
       |       FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
       |e AS (SELECT u AS s, v AS d FROM ce UNION ALL SELECT v AS s, u AS d FROM ce),
       |deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$rounds
       |SELECT node, CAST(r AS BIGINT) AS r FROM r10 ORDER BY node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "gr3_pagerank" -> pageRankSql,

    "gr4_clustering" ->
      """WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |            WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
        |      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e) n GROUP BY 1),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pn AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) x
        |  GROUP BY 1)
        |SELECT d.node, d.degree, COALESCE(pn.n_triangles, 0) AS n_triangles,
        |  ROUND(CASE WHEN d.degree >= 2
        |    THEN 2.0 * COALESCE(pn.n_triangles, 0) / (d.degree * (d.degree - 1))
        |    ELSE 0.0 END, 6) AS clustering
        |FROM deg d LEFT JOIN pn ON pn.node = d.node
        |ORDER BY d.node""".stripMargin,

    "e3_scd2" ->
      """WITH c AS (
        |  SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |eff AS (
        |  SELECT user_id, event_type, ts, event_id FROM c
        |  WHERE prev IS NULL OR event_type <> prev)
        |SELECT user_id, event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS from_us,
        |  CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |    AS BIGINT) AS to_us,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
        |    AS is_current
        |FROM eff ORDER BY user_id, from_us""".stripMargin,

    // identical decay formula, identical op order (the exp argument is
    // written the same way in both engines; ln2 is a shared literal)
    "a30_decay_profile" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |    CAST(epoch_us(ts::TIMESTAMP) AS BIGINT) AS ts_us
        |  FROM events),
        |anchor AS (SELECT max(ts_us) AS anchor_us FROM e),
        |w AS (
        |  SELECT user_id,
        |    exp(-0.6931471805599453 *
        |        (((SELECT anchor_us FROM anchor) - ts_us) / 1e6) / 604800.0) AS w,
        |    value
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(ROUND(w * 1e6) AS BIGINT)) AS BIGINT) AS decayed_count_e6,
        |  CAST(sum(CAST(ROUND(value * w * 1e6) AS BIGINT)) AS BIGINT) AS decayed_value_e6
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a29_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch_us(ts::TIMESTAMP) AS BIGINT) AS ts_us,
        |    CASE WHEN event_id % 5 = 0 THEN ROUND(value, 6) END AS v
        |  FROM events)
        |SELECT user_id, event_id, ts_us,
        |  last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM e ORDER BY user_id, ts_us, event_id""".stripMargin,

    "e4_cdc_apply" ->
      """WITH base AS (
        |  SELECT c_custkey AS custkey, c_acctbal AS acctbal
        |  FROM customer WHERE c_custkey % 3 <> 0),
        |ch AS (
        |  SELECT o_custkey AS custkey,
        |    CASE WHEN o_orderkey % 37 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_orderdate AS ts, o_orderkey AS seq, o_totalprice AS acctbal
        |  FROM orders),
        |last AS (
        |  SELECT custkey, op, acctbal FROM ch
        |  QUALIFY row_number() OVER (
        |    PARTITION BY custkey ORDER BY ts DESC, seq DESC) = 1)
        |SELECT COALESCE(b.custkey, l.custkey) AS custkey,
        |  ROUND(CASE WHEN l.op IS NOT NULL THEN l.acctbal ELSE b.acctbal END,
        |    2) AS acctbal
        |FROM base b FULL OUTER JOIN last l ON b.custkey = l.custkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY custkey""".stripMargin,

    "c1_table_fingerprint" ->
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(
        |      CAST(l_orderkey AS VARCHAR) || '|' ||
        |      CAST(l_linenumber AS VARCHAR) || '|' || l_returnflag),
        |    1, 15))::BIGINT AS hv
        |  FROM lineitem)
        |SELECT hv % 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  bit_xor(hv) AS xor_hash
        |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin,

    "g1_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
        |s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM e WHERE event_type = 'signup'
        |  GROUP BY 1),
        |s2 AS (
        |  SELECT s1.user_id, s1.t1,
        |    MIN(CASE WHEN v.ts > s1.t1
        |             AND epoch_us(v.ts) - epoch_us(s1.t1) <= 86400000000
        |             THEN v.ts END) AS t2
        |  FROM s1 LEFT JOIN (SELECT user_id, ts FROM e WHERE event_type = 'view') v
        |    ON v.user_id = s1.user_id
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT s2.user_id, s2.t1, s2.t2,
        |    MIN(CASE WHEN c.ts > s2.t2
        |             AND epoch_us(c.ts) - epoch_us(s2.t2) <= 86400000000
        |             THEN c.ts END) AS t3
        |  FROM s2 LEFT JOIN (SELECT user_id, ts FROM e WHERE event_type = 'click') c
        |    ON c.user_id = s2.user_id
        |  GROUP BY 1, 2, 3),
        |s4 AS (
        |  SELECT s3.user_id, s3.t1, s3.t2, s3.t3,
        |    MIN(CASE WHEN p.ts > s3.t3
        |             AND epoch_us(p.ts) - epoch_us(s3.t3) <= 86400000000
        |             THEN p.ts END) AS t4
        |  FROM s3 LEFT JOIN (SELECT user_id, ts FROM e WHERE event_type = 'purchase') p
        |    ON p.user_id = s3.user_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT CAST(reached AS BIGINT) AS reached,
        |  CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |  SELECT (CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END
        |        + CASE WHEN t4 IS NULL THEN 0 ELSE 1 END) AS reached
        |  FROM s4) t
        |GROUP BY 1 ORDER BY reached""".stripMargin,

    "g2_cohort_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id,
        |    date_trunc('week', ts::TIMESTAMP)::DATE AS wk
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY 1)
        |SELECT c.cohort_week,
        |  CAST((wk.wk - c.cohort_week) // 7 AS BIGINT) AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM wk JOIN cohort c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "a21_mad_outliers" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, e.value, m.med
        |  FROM events e JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN abs(d.value - d.med) > 3 * md.mad
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  ROUND(ANY_VALUE(d.med), 6) AS med,
        |  ROUND(ANY_VALUE(md.mad), 6) AS mad
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "e2_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts,
        |    CASE WHEN epoch_us(ts::TIMESTAMP)
        |           - epoch_us(lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts))
        |         > 1800000000 THEN 1 ELSE 0 END AS gap
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(gap) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM o)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(epoch_us(MIN(ts)) AS BIGINT) AS start_us,
        |  CAST(epoch_us(MAX(ts)) AS BIGINT) AS end_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,

    "gr1_degree_dist" ->
      """WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |            WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
        |      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e) n
        |        GROUP BY 1)
        |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin,

    "gr5_bfs_hops" ->
      """WITH RECURSIVE
        |ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |       WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
        |      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk),
        |d AS (SELECT u AS s, dst FROM (SELECT u, v AS dst FROM e)
        |      UNION ALL SELECT v AS s, u AS dst FROM e),
        |seeds AS (SELECT DISTINCT s AS node FROM d WHERE s % 50 = 0),
        |bfs(node, hop) AS (
        |  SELECT node, CAST(0 AS BIGINT) AS hop FROM seeds
        |  UNION
        |  SELECT d.dst, b.hop + 1 FROM bfs b JOIN d ON d.s = b.node
        |  WHERE b.hop < 4)
        |SELECT node, MIN(hop) AS hop FROM bfs
        |GROUP BY node ORDER BY node""".stripMargin,

    "gr2_triangles" ->
      """WITH ls AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem
        |            WHERE l_quantity > 45),
        |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
        |      FROM ls a JOIN ls b ON a.ok = b.ok AND a.sk < b.sk)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e2.u = e1.v
        |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,

    "c2_zonemap" ->
      """SELECT l_orderkey // 4096 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(CAST(l_shipdate AS DATE)) AS min_sd,
        |  MAX(CAST(l_shipdate AS DATE)) AS max_sd
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,

    // same bit-interleave as Layout.zvalue (dim d bit i → position 2i+d),
    // expressed as plain integer arithmetic; the terms are generated so
    // the SQL and the Scala operator can't drift on the bit layout
    "c7_zorder_cells" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((bp >> $i) & 1) << ${2 * i})", s"(((bs >> $i) & 1) << ${2 * i + 1})"))
        .mkString(" | ")
      s"""WITH s AS (
         |  SELECT MIN(l_partkey) AS mnp, MAX(l_partkey) AS mxp,
         |         MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs
         |  FROM lineitem),
         |b AS (
         |  SELECT l_partkey, l_suppkey,
         |    ((l_partkey - mnp) * 255) // GREATEST(mxp - mnp, 1) AS bp,
         |    ((l_suppkey - mns) * 255) // GREATEST(mxs - mns, 1) AS bs
         |  FROM lineitem, s),
         |z AS (
         |  SELECT l_partkey, l_suppkey, ($terms) AS zval FROM b)
         |SELECT (zval >> 10) AS cell, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(l_partkey) AS min_l_partkey, MAX(l_partkey) AS max_l_partkey,
         |  MIN(l_suppkey) AS min_l_suppkey, MAX(l_suppkey) AS max_l_suppkey
         |FROM z GROUP BY 1 ORDER BY cell""".stripMargin
    },

    // layout-independent semantics: the oracle joins the raw parquet —
    // bucketing changes the plan, never the result
    "c8_bucketed_join" ->
      """SELECT o_orderpriority,
        |  ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "c9_partition_pruning" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "c10_dynamic_pruning" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS day_n
        |  FROM events GROUP BY 1),
        |busy AS (
        |  SELECT event_date FROM d
        |  WHERE day_n >= (SELECT MAX(day_n) FROM d) * 0.8)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_busy_days
        |FROM events
        |WHERE CAST(ts AS DATE) IN (SELECT event_date FROM busy)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "a22_binned_quantile" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value / 1.0) AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b)
        |SELECT event_type,
        |  ROUND(1.0 * (bin + (0.95 * CAST(n AS DOUBLE) - CAST(cum - c AS DOUBLE))
        |                       / CAST(c AS DOUBLE)), 6) AS p95_est
        |FROM cum
        |WHERE CAST(cum AS DOUBLE) >= 0.95 * CAST(n AS DOUBLE)
        |  AND CAST(cum - c AS DOUBLE) < 0.95 * CAST(n AS DOUBLE)
        |ORDER BY event_type""".stripMargin,

    "c4_table_diff" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem),
        |mut AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 997 = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity
        |  FROM lineitem)
        |SELECT *, 'only_in_a' AS side FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM mut)
        |UNION ALL
        |SELECT *, 'only_in_b' FROM (SELECT * FROM mut EXCEPT ALL SELECT * FROM base)
        |ORDER BY side, l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "c3_quality_report" ->
      """WITH r AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
        |    CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 0 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS qty_out_of_range,
        |    CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS bad_returnflag,
        |    CAST(SUM(CASE WHEN l_discount > 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS discount_over_10pct
        |  FROM lineitem),
        |orph AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL
        |             THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT 'null_orderkey' AS check, null_orderkey AS n_violations, n_rows FROM r
        |UNION ALL SELECT 'qty_out_of_range', qty_out_of_range, n_rows FROM r
        |UNION ALL SELECT 'bad_returnflag', bad_returnflag, n_rows FROM r
        |UNION ALL SELECT 'discount_over_10pct', discount_over_10pct, n_rows FROM r
        |UNION ALL SELECT 'orphan_orderkey', v, n_rows FROM orph
        |ORDER BY "check"""".stripMargin,

    "a25_unpivot" ->
      """SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'retailprice', p_retailprice FROM part
        |ORDER BY p_partkey, attr""".stripMargin,

    "a26_ntile_bins" ->
      """WITH d AS (
        |  SELECT o_totalprice,
        |    CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS decile
        |  FROM orders)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
        |FROM d GROUP BY 1 ORDER BY decile""".stripMargin,

    "a27_rolling_count" ->
      """SELECT user_id, event_id,
        |  CAST(epoch_us(ts::TIMESTAMP) AS BIGINT) AS ts_us,
        |  CAST(COUNT(*) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_last_hour
        |FROM events ORDER BY user_id, ts_us, event_id""".stripMargin,

    "a24_hourly_anomaly" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, AVG(CAST(n AS DOUBLE)) AS mu,
        |    stddev_pop(CAST(n AS DOUBLE)) AS sd
        |  FROM h GROUP BY 1)
        |SELECT h.event_type, CAST(epoch_ms(hr) AS BIGINT) AS hr_ms, n,
        |  CAST(n > mu + 3 * sd AS INT) AS flag,
        |  ROUND(mu, 6) AS mu, ROUND(sd, 6) AS sd
        |FROM h JOIN s USING (event_type)
        |ORDER BY event_type, hr_ms""".stripMargin,

    "a23_copurchase_pairs" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sized AS (
        |  SELECT ok, pk FROM (
        |    SELECT ok, pk, COUNT(*) OVER (PARTITION BY ok) AS bsz FROM op)
        |  WHERE bsz BETWEEN 2 AND $MaxBasketSize),
        |pairs AS (
        |  SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM sized a JOIN sized b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT p1, p2, support FROM pairs
        |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin,

    "j11_salted_join" ->
      """SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY s_nationkey""".stripMargin,

    "b1_bloom_semijoin" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
  )
}
