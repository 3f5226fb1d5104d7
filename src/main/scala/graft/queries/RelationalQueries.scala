package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.sources.Catalog

/** SURVEY §2.1–§2.4 / §2.6–§2.8 operator inventory, each expressed as a
  * deterministic query over the driver fixtures with a DuckDB oracle.
  *
  * Determinism rules (the driver hash-compares against DuckDB):
  *   - money sums go through decimal(18,2) so both engines sum exactly;
  *   - float aggregates are rounded (half-up on positives == C round);
  *   - every query ends in a total ordering (keys break all ties);
  *   - arrays are sorted then stringified (no list-hash ambiguity).
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Exact money sum: decimal in, double out — bit-identical across engines. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  val queries: Map[String, Q] = Map(
    // S1/S2: full scan with projection + filter — Catalyst pushes both to
    // the parquet reader (reference: HogHBaseRDD.scala:248-268 hand-built
    // scans; here PushedFilters/ReadSchema do it declaratively).
    "s1_scan_project" -> ((s, dir) => {
      import s.implicits._
      Catalog.lineitem(s, dir)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
        .filter($"l_quantity" > 45)
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // S3/T4: time-range filtered scan (the retention-purge predicate,
    // HogPrepare.scala:87-139, expressed as survivor selection; at scale
    // this is partition pruning on the date column).
    "s3_time_filter" -> ((s, dir) => {
      import s.implicits._
      Catalog.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1995-06-01").cast(TimestampType))
        .select($"l_orderkey", $"l_linenumber", $"l_shipdate".cast(DateType).as("ship_date"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // P1: projection with null defaulting (HogDNS.scala:143-149 missing→"0"/"-1").
    "p1_null_default" -> ((s, dir) => {
      import s.implicits._
      Catalog.orders(s, dir)
        .select(
          $"o_orderkey",
          coalesce(nullif($"o_orderstatus", lit("O")), lit("UNK")).as("status_filled"),
          coalesce(when($"o_totalprice" > 200000, $"o_totalprice"), lit(-1.0)).as("price_or_default"))
        .orderBy($"o_orderkey")
    }),

    // P3: protocol/port/time-style predicates (isin + range, HogDNS.scala:155-159).
    "p3_pred_filter" -> ((s, dir) => {
      import s.implicits._
      Catalog.lineitem(s, dir)
        .filter($"l_returnflag".isin("A", "R") && $"l_quantity".between(10, 20) && $"l_linestatus" === "F")
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // P4+A1: direction/status inference (chained when/otherwise,
    // HogSFlow.scala:811-866) then the 5-tuple-style rollup where
    // `direction` is SUMMED as a majority vote (HogSFlow.scala:877-882).
    "p4_direction_vote" -> ((s, dir) => {
      import s.implicits._
      val dir_ = when($"event_type" === "click", 1)
        .when($"event_type" === "view", 1)
        .when($"event_type" === "purchase", 2)
        .when($"event_type" === "signup", 0)
        .otherwise(-1)
      Catalog.events(s, dir)
        .withColumn("direction", dir_)
        .withColumn("status", when($"value" > 10, 1).otherwise(0))
        .groupBy($"user_id")
        .agg(
          sum($"direction").as("direction_vote"),
          sum($"status").as("status_sum"),
          count(lit(1)).as("n"),
          unix_millis(min($"ts")).as("t_min_ms"),
          unix_millis(max($"ts")).as("t_max_ms"),
          round(avg($"value"), 6).as("v_avg"))
        .orderBy($"user_id")
    }),

    // P6: 3-way training-label assignment (HogSnort.scala:103-109).
    "p6_label_assign" -> ((s, dir) => {
      import s.implicits._
      Catalog.orders(s, dir)
        .withColumn("label",
          when($"o_orderstatus" === "F", 1)
            .when($"o_orderstatus" === "O", 0)
            .otherwise(-1))
        .groupBy($"label").agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .orderBy($"label")
    }),

    // P7: string hygiene (stripAccents/truncate/replace, HogAuth.scala:299-312).
    "p7_string_hygiene" -> ((s, dir) => {
      import s.implicits._
      // accent fixtures are constructed from table data (translate vowels
      // to accented forms) so both engines strip the same inputs; the
      // literal prefix exercises non-decomposable chars (Ł, ß) that must
      // pass through unchanged
      Catalog.customer(s, dir)
        .select(
          $"c_custkey",
          regexp_replace(upper(trim($"c_name")), "CUSTOMER#", "C").as("name_clean"),
          graft.functions.TextFunctions.stripAccents(
            translate(trim($"c_name"), "aeiou", "àéîõü")).as("name_unaccented"),
          graft.functions.TextFunctions.stripAccents(
            concat(lit("Łódź-Äß-"), $"c_mktsegment")).as("seg_unaccented"),
          substring($"c_mktsegment", 1, 5).as("seg5"))
        .orderBy($"c_custkey")
    }),

    // J1: prefix (range) semi-join against a small broadcast list
    // (isMyIP, HogSFlow.scala:725-731) — LIKE-prefix semantics.
    "j1_prefix_semijoin" -> ((s, dir) => {
      import s.implicits._
      val docs = Catalog.documents(s, dir)
      val prefixes = docs.filter($"source" === "src0")
        .select(substring($"text", 1, 8).as("pfx")).distinct()
      docs.join(broadcast(prefixes), $"text".startsWith($"pfx"), "left_semi")
        .select($"doc_id").orderBy($"doc_id")
    }),

    // J2: reputation-list anti-join (whitelist exclusion, HogSFlow.scala:1031).
    "j2_blacklist_anti" -> ((s, dir) => {
      import s.implicits._
      val bad = Catalog.supplier(s, dir).filter($"s_acctbal" < 0).select($"s_suppkey")
      Catalog.lineitem(s, dir)
        .join(broadcast(bad), $"l_suppkey" === bad("s_suppkey"), "left_anti")
        .groupBy($"l_suppkey").agg(count(lit(1)).as("n"))
        .orderBy($"l_suppkey")
    }),

    // J3/J4: derived-set pair anti-join (ftpTalkers DAG, HogSFlow.scala:1108-1133):
    // pairs seen with returnflag='R' are excluded from the rollup.
    "j3_pair_anti" -> ((s, dir) => {
      import s.implicits._
      val li = Catalog.lineitem(s, dir)
      val badPairs = li.filter($"l_returnflag" === "R")
        .select($"l_suppkey", $"l_partkey").distinct()
      li.join(badPairs, Seq("l_suppkey", "l_partkey"), "left_anti")
        .groupBy($"l_suppkey").agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("revenue"))
        .orderBy($"l_suppkey")
    }),

    // J5: histogram-state lookup — batch aggregate LEFT JOIN profile table
    // (HogSFlow.scala:1498; per-key HBase GET becomes one equi-join).
    "j5_state_lookup" -> ((s, dir) => {
      import s.implicits._
      val profile = Catalog.customer(s, dir)
        .filter($"c_acctbal" > 0)
        .select($"c_custkey", $"c_acctbal")
      Catalog.orders(s, dir)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("spend"))
        .join(profile, $"o_custkey" === profile("c_custkey"), "left")
        .select(
          $"o_custkey".as("custkey"), $"n_orders", $"spend",
          coalesce($"c_acctbal", lit(-1.0)).as("acctbal"),
          when($"c_custkey".isNull, 1).otherwise(0).as("cold_start"))
        .orderBy($"custkey")
    }),

    // J6: conditional-key second lookup (alien-profile HIST01-vs-HIST05
    // keyspace switch, HogSFlow.scala:1659-1681) — join key is a CASE.
    "j6_conditional_lookup" -> ((s, dir) => {
      import s.implicits._
      val nation = Catalog.nation(s, dir)
      Catalog.supplier(s, dir)
        .withColumn("lookup_key",
          when($"s_nationkey" < 10, $"s_nationkey").otherwise($"s_nationkey" % 10))
        .join(nation, $"lookup_key" === nation("n_nationkey"), "left")
        .select($"s_suppkey", $"lookup_key", $"n_name")
        .orderBy($"s_suppkey")
    }),

    // J7: broadcast equi-join + collect_set rollup (OS-repo lookup,
    // HogSFlow.scala:2838-2868) — set stringified for stable hashing.
    "j7_join_collect_set" -> ((s, dir) => {
      import s.implicits._
      val p = Catalog.part(s, dir).select($"p_partkey", $"p_brand")
      Catalog.lineitem(s, dir)
        .join(broadcast(p), $"l_partkey" === p("p_partkey"))
        .groupBy($"l_suppkey")
        .agg(concat_ws(",", array_sort(collect_set($"p_brand"))).as("brands"),
          count(lit(1)).as("n"))
        .orderBy($"l_suppkey")
    }),

    // J9 (beyond-reference): distributed as-of join — for each purchase
    // event, the user's latest click at-or-before it. Union + one window
    // pass (operators/AsOfJoin); never an inequality pair blowup.
    "j9_asof_join" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsOfJoin.asOfJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "ts"))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("matched.click_id").as("click_id"),
          unix_millis(col("matched.ts")).as("click_ts_ms"))
        .orderBy(col("event_id"))
    }),

    // J14 (beyond-reference): as-of join with a maximum-lookback
    // tolerance — the pandas merge_asof(tolerance=...) contract: a click
    // older than 1 hour must NOT attach to the purchase. Same one-shuffle
    // union-window plan as j9; the bound is a post-window null-out, never
    // an inequality pair join.
    "j14_asof_tolerance" -> ((s, dir) => {
      val ev = Catalog.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      graft.operators.AsOfJoin.asOfJoin(purchases, clicks, "user_id", "ts",
          Seq("click_id", "ts"), tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("matched.click_id").as("click_id"),
          unix_millis(col("matched.ts")).as("click_ts_ms"))
        .orderBy(col("event_id"))
    }),

    // J10 (beyond-reference): grid-bucketed range join — orders land in
    // overlapping 120-day promo windows via an equi-join on grid cells
    // plus an exact residual filter; never an inequality BNLJ.
    "j10_range_join" -> ((s, dir) => {
      val base = 9131L // epoch day of 1995-01-01
      val promos = Catalog.nation(s, dir).select(
        col("n_nationkey").cast("long").as("promo_id"),
        (lit(base) + col("n_nationkey") * 90).cast("long").as("start_day"),
        (lit(base) + col("n_nationkey") * 90 + 120).cast("long").as("end_day"))
      val pts = Catalog.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"),
        unix_date(col("o_orderdate").cast("date")).cast("long").as("day"))
      graft.operators.RangeJoin.rangeJoin(pts, "day", promos, "start_day", "end_day", grid = 128L)
        .groupBy(col("promo_id"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .orderBy(col("promo_id"))
    }),

    // J12 (beyond-reference): interval-OVERLAP join — view and click
    // intervals (event ts + value seconds) that intersect in time. Both
    // sides explode onto a 512 s grid and hash-join on the cell; each
    // true pair survives exactly once via the canonical-cell rule (no
    // distinct), and the exact overlap predicate filters residuals. The
    // naive formulation is an inequality BNLJ — O(|views|·|clicks|)
    // comparisons — which PlanDisciplineSpec forbids outright.
    "j12_interval_overlap" -> ((s, dir) => {
      val ev = Catalog.events(s, dir).select(col("event_id"), col("event_type"),
        expr("unix_micros(ts) div 1000000").as("s0"),
        (expr("unix_micros(ts) div 1000000")
          + round(col("value")).cast("long")).as("e0"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("s0").as("vs"), col("e0").as("ve"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("s0").as("cs"), col("e0").as("ce"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          views, "vs", "ve", clicks, "cs", "ce", grid = 512L)
        .select(col("v_id"), col("c_id"),
          (least(col("ve"), col("ce")) - greatest(col("vs"), col("cs"))).as("overlap_s"))
        .orderBy(col("v_id"), col("c_id"))
    }),

    // J13: the production contract for j12 — per-view OVERLAP STATISTICS
    // instead of materialized pairs. The join's pair expansion feeds a
    // partial (map-side combined) aggregate keyed by the view id, so the
    // shuffle and the output stay LINEAR in views at any density; at the
    // 100x fixture j12's pair set is ~156M rows while this is one row per
    // overlapped view. Same contract-vs-production split as d6 → d12.
    "j13_overlap_stats" -> ((s, dir) => {
      val ev = Catalog.events(s, dir).select(col("event_id"), col("event_type"),
        expr("unix_micros(ts) div 1000000").as("s0"),
        (expr("unix_micros(ts) div 1000000")
          + round(col("value")).cast("long")).as("e0"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("s0").as("vs"), col("e0").as("ve"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("s0").as("cs"), col("e0").as("ce"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          views, "vs", "ve", clicks, "cs", "ce", grid = 512L)
        .groupBy(col("v_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("ve"), col("ce")) - greatest(col("vs"), col("cs")))
            .as("overlap_s_total"),
          min(col("c_id")).as("first_click"))
        .orderBy(col("v_id"))
    }),

    // A1 flagship: hash aggregation with partial (map-side) combine —
    // TPC-H Q1 shape over the flow-rollup monoid (HogSFlow.scala:877-882).
    // Q2 (TPC-H Q3 shape): 3-table selective join — segment-filtered
    // customers broadcast into orders, date-filtered lineitems aggregated
    // per order. Exercises Catalyst's join ordering + broadcast pick +
    // scan-level date pushdown; revenue sums in decimal so the top-10 is
    // engine-exact.
    "q2_shipping_priority" -> ((s, dir) => {
      val cutoff = lit("1995-03-15").cast("date")
      val cust = Catalog.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      val ord = Catalog.orders(s, dir)
        .filter(col("o_orderdate").cast("date") < cutoff)
        .select(col("o_custkey"), col("o_orderkey").as("l_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"))
      // exact revenue: the stored prices/discounts are 2-dp decimals, so
      // price-cents x discount-complement-percent is integer arithmetic —
      // no double->decimal rounding boundary for engines to disagree on
      val li = Catalog.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") > cutoff)
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      li.join(ord.join(broadcast(cust), Seq("o_custkey")), Seq("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("rev_e4")) / 10000.0, 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Q4 (TPC-H Q4 shape): correlated EXISTS — order-priority counts over
    // one quarter, counting orders with at least one returned line item
    // (the fixture has no commit/receipt dates; l_returnflag = 'R' keeps
    // the correlated-predicate shape). Deliberately written as SQL so
    // Catalyst's RewritePredicateSubquery does the decorrelation
    // (EXISTS → left SEMI join on l_orderkey — the scan of lineitem
    // happens once, never per outer row); PlanDisciplineSpec verifies the
    // physical plan stays join-shaped.
    "q4_order_priority" -> ((s, dir) => {
      Catalog.orders(s, dir).createOrReplaceTempView("graft_q4_orders")
      Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q4_lineitem")
      s.sql("""SELECT o_orderpriority, COUNT(*) AS order_count
              |FROM graft_q4_orders
              |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
              |  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
              |  AND EXISTS (
              |    SELECT * FROM graft_q4_lineitem
              |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }),

    // Q21 (TPC-H Q21 shape): "suppliers who were the sole returner on a
    // finished multi-supplier order" — textbook form is one correlated
    // EXISTS plus one correlated NOT EXISTS over the SAME fact table
    // (the hardest decorrelation pattern in the TPC-H suite; the fixture
    // has no receipt/commit dates, so l_returnflag='R' stands in for
    // Q21's late-delivery predicate). Catalyst decorrelates that into
    // LeftSemi/LeftAnti hash joins, but each one re-shuffles the whole
    // fact table on l_orderkey — three lineitem exchanges, 1.8 GB of
    // measured spill at the 100× fixture. Executed here as the
    // equivalent SINGLE-PASS per-order aggregate instead: per
    // (l_orderkey, l_suppkey) count the 'R' rows, then per order derive
    //   n_supp      = suppliers on the order        (EXISTS l2 ⇔ ≥ 2)
    //   n_r_supp    = suppliers with an 'R' row     (NOT EXISTS l3 ⇔ = 1)
    //   sole_supp   = that sole returner            (max over the 1)
    //   r_rows      = the order's 'R' row count     (= the sole
    //                 supplier's l1 multiplicity when n_r_supp = 1,
    //                 which is what COUNT(*) over l1 rows counts)
    // — one fact-table exchange on (orderkey, suppkey), a second over
    // the ~|orders| pre-aggregate, both map-side combining, no
    // self-joins, nothing to spill. The oracle keeps the EXISTS form
    // (DuckDB executes it independently), and QueriesSpec pins the
    // Spark-side equivalence against the decorrelated SQL too.
    "q21_sole_fault" -> ((s, dir) => soleFaultSuppliers(s, dir)),

    // Q17 (TPC-H Q17 shape): correlated SCALAR subquery — small-quantity
    // revenue for one brand, where "small" is relative to the part's own
    // average order quantity. This is the third decorrelation pattern in
    // the family (q4 = EXISTS, q21 = EXISTS + NOT EXISTS, here = scalar
    // agg): Catalyst rewrites each correlated scalar aggregate into a
    // grouped aggregate over lineitem joined back on l_partkey — the fact
    // table is scanned a bounded number of times, never per outer row
    // (and MergeScalarSubqueries can fuse the COUNT and SUM subqueries,
    // which share their correlation key and filters, into ONE aggregate).
    // Arithmetic is exact by construction so the DuckDB hash matches:
    // the textbook `l_quantity < 0.2 * avg(l_quantity)` compares floats
    // whose last-ulp value depends on the engine's summation order, so
    // the predicate is cross-multiplied into integer-valued doubles
    // (quantities are whole numbers; 5*qty*cnt and sum(qty) are exact),
    // and revenue totals are summed in integer cents.
    "q17_small_qty_revenue" -> ((s, dir) => {
      Catalog.part(s, dir).createOrReplaceTempView("graft_q17_part")
      Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q17_lineitem")
      // NOTE: a `700.0` literal is DECIMAL in Spark SQL (double in DuckDB),
      // so the sum is cast to DOUBLE before dividing to keep result types
      // aligned across engines.
      s.sql("""SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
              |         / 700.0, 2) AS avg_yearly
              |FROM graft_q17_lineitem l, graft_q17_part p
              |WHERE p_partkey = l_partkey
              |  AND p_brand = 'Brand#23'
              |  AND 5.0 * l_quantity *
              |      (SELECT COUNT(*) FROM graft_q17_lineitem l2
              |       WHERE l2.l_partkey = p.p_partkey)
              |    < (SELECT SUM(l2.l_quantity) FROM graft_q17_lineitem l2
              |       WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
    }),

    // Q22 (TPC-H Q22 shape): uncorrelated scalar subquery (the global
    // average balance — broadcast as a one-row literal join) gating a
    // correlated NOT EXISTS (left ANTI hash join against orders). The
    // fixture gives every customer at least one order, so the anti-join
    // side is qualified (`o_orderstatus = 'F'`): "above-average-balance
    // customers with no finished order", grouped by market segment.
    // Balance comparisons cross-multiply into integer cents (see q17's
    // note on float boundary ties).
    "q22_idle_balance" -> ((s, dir) => {
      Catalog.customer(s, dir).createOrReplaceTempView("graft_q22_customer")
      Catalog.orders(s, dir).createOrReplaceTempView("graft_q22_orders")
      s.sql("""SELECT c_mktsegment, COUNT(*) AS numcust,
              |  ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
              |    / 100.0, 2) AS totacctbal
              |FROM graft_q22_customer c
              |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
              |      (SELECT COUNT(*) FROM graft_q22_customer
              |       WHERE c_acctbal > 0.0)
              |    > (SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
              |       FROM graft_q22_customer WHERE c_acctbal > 0.0)
              |  AND NOT EXISTS (
              |    SELECT * FROM graft_q22_orders o
              |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
              |GROUP BY c_mktsegment
              |ORDER BY c_mktsegment""".stripMargin)
    }),

    // Q19 (TPC-H Q19 shape): disjunctive OR-of-ANDs predicate spanning
    // BOTH join sides — the pushdown-splitting stress case. Catalyst
    // cannot push the whole disjunction to either scan, but it derives
    // and pushes the per-side IMPLIED disjunctions (brand∈{...} OR … to
    // part, quantity-range OR … to lineitem) while keeping the full
    // predicate as the join residual — so both scans prune even though
    // no single conjunct applies globally. Revenue in exact integer
    // cents (q3's formulation) for the hash match.
    "q19_disjunctive_revenue" -> ((s, dir) => {
      Catalog.part(s, dir).createOrReplaceTempView("graft_q19_part")
      Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q19_lineitem")
      s.sql("""SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
              |  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0, 2)
              |    AS revenue,
              |  COUNT(*) AS n_items
              |FROM graft_q19_lineitem, graft_q19_part
              |WHERE p_partkey = l_partkey AND (
              |  (p_brand IN ('Brand#11','Brand#12','Brand#13')
              |    AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15) OR
              |  (p_brand IN ('Brand#22','Brand#23','Brand#24')
              |    AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25) OR
              |  (p_brand IN ('Brand#33','Brand#34','Brand#35')
              |    AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 35))""".stripMargin)
    }),

    // Q16 (TPC-H Q16 shape): NOT IN subquery — the NULL-AWARE anti-join,
    // the fourth decorrelation flavor in the family (q4 EXISTS, q21
    // EXISTS+NOT EXISTS, q17 scalar, here NOT IN): `x NOT IN (subq)` is
    // three-valued — if the subquery CAN contain a NULL the whole
    // predicate is UNKNOWN for every row — so Catalyst plans a
    // BroadcastHashJoin in NullAwareAntiJoin mode (single-column NAAJ),
    // not a plain LeftAnti. The distinct supplier-per-(brand,size) count
    // on top is the two-level distinct aggregate. (The fixture has no
    // partsupp/s_comment; lineitem's (part,supp) pairs and a key-residue
    // predicate stand in — the SHAPE is Q16's.)
    "q16_supplier_cnt" -> ((s, dir) => {
      Catalog.part(s, dir).createOrReplaceTempView("graft_q16_part")
      Catalog.supplier(s, dir).createOrReplaceTempView("graft_q16_supplier")
      Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q16_lineitem")
      s.sql("""SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
              |FROM graft_q16_lineitem, graft_q16_part
              |WHERE p_partkey = l_partkey
              |  AND p_brand <> 'Brand#45'
              |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
              |  AND l_suppkey NOT IN (
              |    SELECT s_suppkey FROM graft_q16_supplier WHERE s_suppkey % 13 = 0)
              |GROUP BY p_brand, p_size
              |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)
    }),

    // Q13 (TPC-H Q13 shape): customer order-count DISTRIBUTION — the
    // outer-join + double-aggregation pattern. The join condition carries
    // a non-key predicate (priority filter) that must stay ON the join,
    // not become a WHERE (a WHERE would drop the zero-order customers the
    // query exists to count). One shuffled outer join on o_custkey, then
    // a count-of-counts whose second aggregate is tiny (distinct order
    // counts, not customers) — both scale-free shapes at 100 TB.
    "q13_cust_order_dist" -> ((s, dir) => {
      val cust = Catalog.customer(s, dir).select(col("c_custkey"))
      val ord = Catalog.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
      cust.join(ord,
          cust("c_custkey") === ord("o_custkey") &&
            ord("o_orderpriority") =!= "1-URGENT", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // counts NON-NULL only
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // Q18 (TPC-H Q18 shape): large-volume customers — an aggregate-HAVING
    // subquery used as a semi-join filter on the fact table, then the
    // surviving orders re-aggregated with their customer. Catalyst plans
    // the IN as a LeftSemi hash join against the HAVING aggregate (the
    // aggregate output is orders-sized at most, AQE broadcasts it when
    // small); lineitem is scanned twice but shuffled on the same
    // l_orderkey key both times. Quantities are whole numbers so the
    // HAVING threshold and the output sum are engine-exact.
    "q18_large_volume" -> ((s, dir) => {
      Catalog.customer(s, dir).createOrReplaceTempView("graft_q18_customer")
      Catalog.orders(s, dir).createOrReplaceTempView("graft_q18_orders")
      Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q18_lineitem")
      s.sql("""SELECT c_name, c_custkey, o_orderkey,
              |  CAST(o_orderdate AS DATE) AS o_orderdate,
              |  ROUND(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DOUBLE)
              |    / 100.0, 2) AS o_totalprice,
              |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
              |FROM graft_q18_customer, graft_q18_orders, graft_q18_lineitem
              |WHERE o_orderkey IN (
              |    SELECT l_orderkey FROM graft_q18_lineitem
              |    GROUP BY l_orderkey HAVING SUM(l_quantity) > 280)
              |  AND c_custkey = o_custkey
              |  AND o_orderkey = l_orderkey
              |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
              |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
              |LIMIT 100""".stripMargin)
    }),

    // Q15 (TPC-H Q15 shape): top supplier over an aggregated VIEW — the
    // max-over-aggregate pattern. The revenue view (per-supplier sum over
    // a ship-date window) is computed ONCE and consumed twice: once as
    // the join input and once reduced to its global max by an
    // uncorrelated scalar subquery (a one-row broadcast, not a re-scan
    // per row). Revenue stays in exact integer e4 units until the final
    // projection so the max-equality tie-break is engine-exact — a
    // float-rounded max can admit or drop boundary suppliers differently
    // per engine.
    "q15_top_supplier" -> ((s, dir) => {
      Catalog.supplier(s, dir).createOrReplaceTempView("graft_q15_supplier")
      Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q15_lineitem")
      s.sql("""WITH revenue AS (
              |  SELECT l_suppkey AS supplier_no,
              |    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
              |        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_e4
              |  FROM graft_q15_lineitem
              |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
              |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name,
              |  ROUND(CAST(rev_e4 AS DOUBLE) / 10000.0, 2) AS total_revenue
              |FROM graft_q15_supplier JOIN revenue ON s_suppkey = supplier_no
              |WHERE rev_e4 = (SELECT MAX(rev_e4) FROM revenue)
              |ORDER BY s_suppkey""".stripMargin)
    }),

    // Q20 (TPC-H Q20 shape): correlated IN with a scalar-agg threshold —
    // the last nested-subquery flavor in the family (q4 EXISTS, q21
    // EXISTS+NOT EXISTS, q17 correlated scalar vs constant, q16 NOT IN /
    // NAAJ, q18 agg-HAVING semi-join; here IN-over-derived-table whose
    // WHERE carries BOTH a nested IN and a correlated scalar aggregate).
    // The fixture has no partsupp, so lineitem's per-(part,supplier)
    // quantity sums stand in for ps_availqty — the decorrelation shape
    // is Q20's: Catalyst rewrites each correlated aggregate into an
    // aggregate joined on the part key and the whole IN into a LeftSemi.
    // The threshold is "shipped more than 1.5× the part's AVERAGE
    // per-supplier quantity" — scale-stable (a fixed share-of-total
    // empties out as supplier count grows with SF) and cross-multiplied
    // into whole-number integer arithmetic (2·n·qty > 3·total) so the
    // boundary is engine-exact.
    "q20_potential_promo" -> ((s, dir) => {
      Catalog.supplier(s, dir).createOrReplaceTempView("graft_q20_supplier")
      Catalog.part(s, dir).createOrReplaceTempView("graft_q20_part")
      Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q20_lineitem")
      s.sql("""WITH ps AS (
              |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
              |    SUM(CAST(l_quantity AS BIGINT)) AS ps_qty
              |  FROM graft_q20_lineitem GROUP BY 1, 2)
              |SELECT s_suppkey, s_name
              |FROM graft_q20_supplier
              |WHERE s_suppkey IN (
              |  SELECT ps_suppkey FROM ps
              |  WHERE ps_partkey IN (
              |      SELECT p_partkey FROM graft_q20_part WHERE p_name LIKE 'red%')
              |    AND 2 * ps_qty *
              |      (SELECT COUNT(*) FROM ps ps2
              |       WHERE ps2.ps_partkey = ps.ps_partkey)
              |    > (SELECT 3 * SUM(ps2.ps_qty) FROM ps ps2
              |       WHERE ps2.ps_partkey = ps.ps_partkey))
              |ORDER BY s_suppkey""".stripMargin)
    }),

    // Q3 (TPC-H Q5 shape): 5-table star join — revenue by supplier nation
    // where the customer is in the SAME nation (the local-supplier
    // condition forces the c_nationkey = s_nationkey equi-edge through
    // two fact hops).
    "q3_local_supplier_volume" -> ((s, dir) => {
      val li = Catalog.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          // same exact integer-cents formulation as q2
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      val ord = Catalog.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Catalog.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val supp = Catalog.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      val nat = Catalog.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("rev_e4")) / 10000.0, 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Q23 (TPC-H Q7 shape): two-nation trade volume by ship year. The
    // nation-pair predicate is pushed into the DIMENSION scans (supplier/
    // customer keep only the two nations), so the broadcast hash joins
    // prune the lineitem stream before the one fact-fact shuffle with
    // orders; the cross-pair disjunction runs on the two tiny joined
    // name columns. Same integer-cents revenue formulation as q2/q3.
    "q23_volume_shipping" -> ((s, dir) => {
      val natPair = Catalog.nation(s, dir)
        .filter(col("n_name").isin("NATION_3", "NATION_7"))
        .select(col("n_nationkey"), col("n_name"))
      val li = Catalog.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
      val ord = Catalog.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Catalog.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(natPair), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val supp = Catalog.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(natPair), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(round(sum(col("rev_e4")) / 10000.0, 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      Catalog.lineitem(s, dir)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_price"),
          round(avg($"l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // A3: per-entity rollup with bounded top-K flow detail
    // (HogSFlow.scala:1038-1059 + O2 flowSet cap — unbounded HashSet in the
    // reference; bounded window top-K here so it survives 100 TB keys).
    "a3_rollup_topk_detail" -> ((s, dir) => {
      import s.implicits._
      val o = Catalog.orders(s, dir)
      val sums = o.groupBy($"o_custkey")
        .agg(dsum($"o_totalprice").as("spend"), count(lit(1)).as("n_orders"))
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      val top3 = o.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
        .groupBy($"o_custkey")
        .agg(concat_ws(",",
          transform(array_sort(collect_list(struct($"rn", $"o_orderkey"))),
            x => x.getField("o_orderkey").cast(StringType))).as("top_orders"))
      sums.join(top3, Seq("o_custkey"))
        .select($"o_custkey".as("custkey"), $"spend", $"n_orders", $"top_orders")
        .orderBy($"custkey")
    }),

    // A13 (beyond-reference): portable HyperLogLog distinct sketch next
    // to the exact count — the shuffle carries ≤ 64 register rows per
    // group instead of every distinct value (the 100 TB distinct-count
    // path); integer-exact register math makes it oracle-checkable.
    "a13_hll_distinct" -> ((s, dir) => {
      val li = Catalog.lineitem(s, dir)
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
      graft.functions.SketchFunctions.hllDistinct(li, Seq("l_returnflag"), "l_orderkey")
        .join(exact, Seq("l_returnflag"))
        .withColumn("rel_err",
          round(abs(col("hll_distinct") - col("exact_distinct")) / col("exact_distinct"), 6))
        .orderBy(col("l_returnflag"))
    }),

    // A28 (beyond-reference): incremental sketch rollup — HLL register
    // state built independently per batch (even/odd order keys standing
    // in for day-1/day-2 ingests), max-merged, then folded. The merged
    // estimate must be BIT-IDENTICAL to the single-pass one (register
    // max is associative) — the property that lets a 100 TB pipeline
    // keep sketch columns in daily rollup tables instead of re-scanning
    // history for every distinct count.
    "a28_hll_merge" -> ((s, dir) => {
      import graft.functions.SketchFunctions._
      val li = Catalog.lineitem(s, dir)
      val day1 = hllRegisters(li.filter(col("l_orderkey") % 2 === 0),
        Seq("l_returnflag"), "l_orderkey")
      val day2 = hllRegisters(li.filter(col("l_orderkey") % 2 === 1),
        Seq("l_returnflag"), "l_orderkey")
      hllEstimate(hllMergeRegisters(day1, day2, Seq("l_returnflag")),
          Seq("l_returnflag"))
        .join(hllDistinct(li, Seq("l_returnflag"), "l_orderkey", "single_pass"),
          Seq("l_returnflag"))
        .withColumn("merge_lossless",
          (col("hll_distinct") === col("single_pass")).cast("int"))
        .orderBy(col("l_returnflag"))
    }),

    // A14 (beyond-reference): Count-Min heavy-hitter estimation — the
    // counter table is d·w = 1024 rows REGARDLESS of input size; point
    // estimates never undercount. Integer-exact → full oracle parity.
    "a14_cms_heavy_hitters" -> ((s, dir) => {
      import graft.functions.SketchFunctions
      val o = Catalog.orders(s, dir)
      val exact = o.groupBy(col("o_custkey")).agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("o_custkey")).limit(10)
      SketchFunctions.cmsEstimate(SketchFunctions.cmsCounters(o, "o_custkey"), exact, "o_custkey")
        .join(exact, Seq("o_custkey"))
        .withColumn("overcount", col("cms_count") - col("exact_count"))
        .orderBy(col("o_custkey"))
    }),

    // A15 (beyond-reference): salted exact distinct — the hot-key
    // countDistinct pattern: salt by hash(value) so per-salt distincts
    // sum exactly; no single task ever holds a whole key's distinct set.
    "a15_salted_distinct" -> ((s, dir) => {
      graft.operators.Skew.saltedDistinct(
          Catalog.lineitem(s, dir), Seq("l_returnflag"), "l_orderkey")
        .orderBy(col("l_returnflag"))
    }),

    // A16 (beyond-reference): multi-level ROLLUP — subtotals + grand
    // total in one pass (the reference recomputed each level manually).
    "a16_rollup" -> ((s, dir) => {
      Catalog.orders(s, dir)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("spend"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("spend"))
        .orderBy(col("priority"), col("status"))
    }),

    // A20 (beyond-reference): CUBE — every grouping-set combination in
    // one pass (completes rollup's coverage with cross-margins).
    "a20_cube" -> ((s, dir) => {
      Catalog.orders(s, dir)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"), col("n"))
        .orderBy(col("priority"), col("status"))
    }),

    // A17 (beyond-reference): exact percentiles (sort-based aggregate
    // with linear interpolation — matches DuckDB quantile_cont at 4 dp).
    "a17_percentile" -> ((s, dir) => {
      // exact percentiles with quantile_cont's lower + frac·(upper−lower)
      // interpolation, via distributed binned SELECTION — the previous
      // window-rank form partitioned on l_returnflag, so THREE tasks
      // sorted the whole table regardless of cluster size (the
      // few-groups window degeneracy; see Robust.exactGroupedQuantiles'
      // scaladoc for the selection shape and its bounds)
      import s.implicits._
      graft.operators.Robust.exactGroupedQuantiles(
          Catalog.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice"),
          Seq("l_returnflag"), col("l_extendedprice"),
          Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99"))
        .select($"l_returnflag", round($"p50", 4).as("p50"),
          round($"p95", 4).as("p95"), round($"p99", 4).as("p99"))
        .orderBy($"l_returnflag")
    }),

    // A18 (beyond-reference): running total per entity — cumulative
    // window sum in event order (decimal accumulation for cross-engine
    // exactness, cast once at the end).
    "a18_running_total" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Catalog.orders(s, dir)
        .filter($"o_custkey" < 100)
        .select($"o_custkey", $"o_orderkey",
          sum($"o_totalprice".cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType).as("running_spend"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // A4: two-level distinct-pair counting (P2P detector shape,
    // HogSFlow.scala:1169-1194): stage-1 groupBy pair, stage-2 re-key.
    "a4_two_level_distinct" -> ((s, dir) => {
      import s.implicits._
      Catalog.orders(s, dir)
        .groupBy($"o_custkey", $"o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("distinct_statuses"),
          sum($"n").as("n_orders"),
          dsum($"total").as("spend"))
        .orderBy($"o_custkey")
    }),

    // A5: in-aggregation histogram build, flattened to rows
    // (port-frequency maps, HogSFlow.scala:1401-1423): freq = cnt/total.
    "a5_histogram_build" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
      Catalog.orders(s, dir)
        .groupBy($"o_custkey", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("freq", round($"cnt" / sum($"cnt").over(w), 6))
        .select($"o_custkey", $"o_orderpriority", $"cnt", $"freq")
        .orderBy($"o_custkey", $"o_orderpriority")
    }),

    // A6: distinct-count within group (HogSFlow.scala:1190-1192).
    "a6_distinct_in_group" -> ((s, dir) => {
      import s.implicits._
      // Two distinct aggregates in one groupBy rewrite through an Expand
      // (every row duplicated per distinct column), and the first-level
      // distinct aggregate's keys are then mostly unique — its hash maps
      // combine nothing and externalize (23.9 GB of spill at 100×
      // through 32 tasks). In the LARGE regime, split into one branch
      // per distinct column: each branch dedups on an explicit 6×-wide
      // exchange over its FULL key pair (the partitioning satisfies the
      // distinct, so it runs complete-mode with in-memory maps), then
      // the per-supplier counts combine map-side like any plain count
      // and the two ~|supplier| frames hash-join back. Same results, no
      // Expand, no spill — the Buckets.sharedGramPairs decision applied
      // to distinct aggregates. In the SMALL regime the plain
      // countDistinct plan wins (the split's extra exchanges cost 2.5×
      // at sf0.1 for spill that never happens) — AdaptiveWidth gates on
      // the optimizer's input estimate.
      //
      // NULL equivalence of the split: countDistinct IGNORES nulls,
      // while distinct()+count would count a null key as one value, so
      // each branch filters its key non-null; the inner join back
      // additionally assumes l_suppkey is non-null and every supplier
      // has at least one non-null value of BOTH keys (TPC-H lineitem
      // keys are non-null by schema — under that contract the branch
      // split is exactly countDistinct).
      val li = Catalog.lineitem(s, dir)
      val proj = li.select($"l_suppkey", $"l_partkey", $"l_orderkey")
      if (graft.plans.AdaptiveWidth.isSmallInput(proj)) {
        li.groupBy($"l_suppkey")
          .agg(countDistinct($"l_partkey").as("n_parts"),
            countDistinct($"l_orderkey").as("n_orders"))
          .orderBy($"l_suppkey")
      } else {
        val n = graft.plans.AdaptiveWidth.widened(li)
        def distinctCount(key: String, as: String) =
          li.select($"l_suppkey", col(key))
            .filter(col(key).isNotNull)
            .repartition(n, $"l_suppkey", col(key))
            .distinct()
            .groupBy($"l_suppkey").agg(count(lit(1)).as(as))
        distinctCount("l_partkey", "n_parts")
          .join(distinctCount("l_orderkey", "n_orders"), Seq("l_suppkey"))
          .orderBy($"l_suppkey")
      }
    }),

    // A7: global stats — mean/stdev/max (RDD .stats(), HogSFlow.scala:1776-1780;
    // stdev is population).
    "a7_global_stats" -> ((s, dir) => {
      import s.implicits._
      Catalog.lineitem(s, dir)
        .agg(
          round(avg($"l_quantity"), 6).as("mean_qty"),
          round(stddev_pop($"l_quantity"), 6).as("std_qty"),
          max($"l_quantity").as("max_qty"),
          count(lit(1)).as("n"))
    }),

    // A8: count-by-key (cluster sizes, HogSFlowHistograms.scala:204).
    "a8_count_by_key" -> ((s, dir) => {
      import s.implicits._
      Catalog.lineitem(s, dir)
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }),

    // A9/M5: z-score normalization — aggregate once, broadcast back
    // (HogDNS.scala:168-199; no whole-table window at scale).
    "a9_znorm" -> ((s, dir) => {
      import s.implicits._
      val o = Catalog.orders(s, dir)
      val stats = o.agg(
        avg($"o_totalprice").as("mu"),
        stddev_pop($"o_totalprice").as("sigma"))
      o.crossJoin(broadcast(stats))
        .select($"o_orderkey",
          round(($"o_totalprice" - $"mu") / $"sigma", 6).as("z"))
        .orderBy($"o_orderkey")
    }),

    // A10: cluster×label contingency with mean (HogDNS.scala:217-250).
    "a10_crosstab_mean" -> ((s, dir) => {
      import s.implicits._
      Catalog.orders(s, dir)
        .groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("n"), round(avg($"o_totalprice"), 4).as("mean_price"))
        .orderBy($"o_orderpriority", $"o_orderstatus")
    }),

    // A11+O1: frequency ranking (signature counts, HogSnort.scala:113-122).
    "a11_freq_rank" -> ((s, dir) => {
      import s.implicits._
      Catalog.events(s, dir)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"event_type")
    }),

    // A12: per-user access grouping (HogAuth.scala:443-490): distinct
    // event types as a sorted, stringified set.
    "a12_user_profile" -> ((s, dir) => {
      import s.implicits._
      Catalog.events(s, dir)
        .groupBy($"user_id")
        .agg(concat_ws(",", array_sort(collect_set($"event_type"))).as("types"),
          count(lit(1)).as("n"))
        .orderBy($"user_id")
    }),

    // O1: top-K talkers (sortBy desc + take, HogSFlow.scala:1060-1082) —
    // tie-broken for determinism.
    "o1_topk" -> ((s, dir) => {
      import s.implicits._
      Catalog.orders(s, dir)
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .select($"o_orderkey", $"o_totalprice")
        .limit(100)
    }),

    // O2: per-key top-K flow list (HogSFlow.scala:662-684) as a window.
    "o2_pergroup_topk" -> ((s, dir) => {
      import s.implicits._
      // Two-phase top-K: with only a handful of groups, a single window
      // over (l_returnflag) funnels the WHOLE table into 3 sort tasks —
      // the classic low-cardinality window skew. Phase 1 ranks within
      // (group, input partition) — spark_partition_id is only a partial-
      // ranking aid; any local top-5 is a superset of the global top-5,
      // so the result is split-invariant — phase 2 ranks the ≤ 5·P
      // survivors. Sort work parallelizes across all cores instead of 3.
      val ord = Seq($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      val wLocal = Window.partitionBy($"l_returnflag", $"pid").orderBy(ord: _*)
      val wGlobal = Window.partitionBy($"l_returnflag").orderBy(ord: _*)
      Catalog.lineitem(s, dir)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .withColumn("pid", spark_partition_id())
        .withColumn("lrn", row_number().over(wLocal)).filter($"lrn" <= 5)
        .withColumn("rn", row_number().over(wGlobal).cast(LongType)).filter($"rn" <= 5)
        .select($"l_returnflag", $"rn", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_returnflag", $"rn")
    }),

    // U1/U2: train-set union (HogSnort.scala:145-149) — distinct union.
    "u1_union_distinct" -> ((s, dir) => {
      import s.implicits._
      val o = Catalog.orders(s, dir)
      o.filter($"o_orderstatus" === "F").select($"o_orderkey")
        .union(o.filter($"o_totalprice" > 150000).select($"o_orderkey"))
        .distinct()
        .orderBy($"o_orderkey")
    }),

    // U2/U3 (beyond-reference): INTERSECT / EXCEPT as relational set ops
    // (the reference only ever unioned; exclusions were anti-joins).
    "u2_intersect" -> ((s, dir) => {
      import s.implicits._
      val o = Catalog.orders(s, dir)
      o.filter($"o_orderstatus" === "F").select($"o_orderkey")
        .intersect(o.filter($"o_totalprice" > 150000).select($"o_orderkey"))
        .orderBy($"o_orderkey")
    }),
    "u3_except" -> ((s, dir) => {
      import s.implicits._
      val o = Catalog.orders(s, dir)
      o.filter($"o_orderstatus" === "F").select($"o_orderkey")
        .except(o.filter($"o_totalprice" > 150000).select($"o_orderkey"))
        .orderBy($"o_orderkey")
    }),

    // A19 (beyond-reference): pivot — long-to-wide conditional counting
    // with an explicit (deterministic) column list.
    "a19_pivot" -> ((s, dir) => {
      Catalog.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))
    }),

    // F1: md5 (HogStringUtils.scala:32-35).
    "f1_md5" -> ((s, dir) => {
      import s.implicits._
      Catalog.customer(s, dir)
        .select($"c_custkey", md5($"c_name").as("name_md5"))
        .orderBy($"c_custkey")
    }),

    // F4: /24 significant-network truncation (ipSignificantNetwork,
    // HogSFlow.scala:733-742) over synthesized dotted quads.
    "f4_prefix24" -> ((s, dir) => {
      import s.implicits._
      Catalog.customer(s, dir)
        .withColumn("ip", concat_ws(".",
          ($"c_custkey" % 256).cast(StringType),
          $"c_nationkey".cast(StringType),
          ($"c_custkey" % 100).cast(StringType),
          lit("7")))
        .select($"c_custkey", $"ip", substring_index($"ip", ".", 3).as("net24"))
        .orderBy($"c_custkey")
    }),

    // F6: epoch → dd/MM/yyyy HH formatting (HogAuth.scala:236-237).
    "f6_date_format" -> ((s, dir) => {
      import s.implicits._
      Catalog.events(s, dir)
        .groupBy(date_format($"ts", "dd/MM/yyyy HH").as("hour_str"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"hour_str")
    }),

    // F9: trimmed-mean of inter-arrival gaps (DDoS burst test,
    // HogSFlow.scala:2694-2722): drop the 4 largest gaps, mean the rest.
    "f9_trimmed_mean_gaps" -> ((s, dir) => {
      import s.implicits._
      val byTs = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val gaps = Catalog.events(s, dir)
        .withColumn("gap_ms", unix_millis($"ts") - unix_millis(lag($"ts", 1).over(byTs)))
        .filter($"gap_ms".isNotNull)
      val byGap = Window.partitionBy($"user_id").orderBy($"gap_ms".desc, $"event_id")
      gaps.withColumn("gr", row_number().over(byGap)).filter($"gr" > 4)
        .groupBy($"user_id")
        .agg(round(avg($"gap_ms" / 1000.0), 6).as("trimmed_mean_s"),
          count(lit(1)).as("n_gaps"))
        .orderBy($"user_id")
    }),

    // F10: the reference's only generator — explode(split) word count
    // (HogzillaStream.scala:61-62), with top-K ranking.
    "f10_word_explode" -> ((s, dir) => {
      import s.implicits._
      Catalog.documents(s, dir)
        .select(explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"word").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word")
        .limit(50)
    }),
  )

  /** q21's single-pass execution (see the queries-map comment for the
    * derivation). `existsSqlForSpec` is the textbook correlated
    * EXISTS/NOT-EXISTS form, kept ONLY so QueriesSpec can pin the
    * rewrite's equivalence against Catalyst's own decorrelation of it —
    * production always runs the aggregate form.
    */
  private[graft] def soleFaultSuppliers(s: SparkSession, dir: String): DataFrame = {
    val li = Catalog.lineitem(s, dir)
    val perSupp = li.select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(col("r")).as("r_rows"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("r_rows") > 0, 1L).otherwise(0L)).as("n_r_supp"),
        max(when(col("r_rows") > 0, col("l_suppkey"))).as("sole_supp"),
        sum(col("r_rows")).as("r_rows"))
      .filter(col("n_supp") >= 2 && col("n_r_supp") === 1)
    val finished = Catalog.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("l_orderkey"))
    perOrder.join(finished, Seq("l_orderkey"), "left_semi")
      .groupBy(col("sole_supp")).agg(sum(col("r_rows")).as("nw"))
      .join(Catalog.supplier(s, dir)
        .select(col("s_suppkey").as("sole_supp"), col("s_name")), Seq("sole_supp"))
      .groupBy(col("s_name")).agg(sum(col("nw")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private[graft] def soleFaultSuppliersExistsSql(s: SparkSession, dir: String): DataFrame = {
    Catalog.supplier(s, dir).createOrReplaceTempView("graft_q21_supplier")
    Catalog.orders(s, dir).createOrReplaceTempView("graft_q21_orders")
    Catalog.lineitem(s, dir).createOrReplaceTempView("graft_q21_lineitem")
    s.sql("""SELECT s_name, COUNT(*) AS numwait
            |FROM graft_q21_supplier, graft_q21_lineitem l1, graft_q21_orders
            |WHERE s_suppkey = l1.l_suppkey
            |  AND o_orderkey = l1.l_orderkey
            |  AND o_orderstatus = 'F'
            |  AND l1.l_returnflag = 'R'
            |  AND EXISTS (
            |    SELECT * FROM graft_q21_lineitem l2
            |    WHERE l2.l_orderkey = l1.l_orderkey
            |      AND l2.l_suppkey <> l1.l_suppkey)
            |  AND NOT EXISTS (
            |    SELECT * FROM graft_q21_lineitem l3
            |    WHERE l3.l_orderkey = l1.l_orderkey
            |      AND l3.l_suppkey <> l1.l_suppkey
            |      AND l3.l_returnflag = 'R')
            |GROUP BY s_name
            |ORDER BY numwait DESC, s_name
            |LIMIT 20""".stripMargin)
  }

  val oracles: Map[String, String] = Map(
    "s1_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "s3_time_filter" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p1_null_default" ->
      """SELECT o_orderkey,
        |  coalesce(nullif(o_orderstatus,'O'),'UNK') AS status_filled,
        |  coalesce(CASE WHEN o_totalprice > 200000 THEN o_totalprice END, -1.0) AS price_or_default
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "p3_pred_filter" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE l_returnflag IN ('A','R') AND l_quantity BETWEEN 10 AND 20 AND l_linestatus='F'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p4_direction_vote" ->
      """SELECT user_id,
        |  CAST(SUM(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 1
        |       WHEN 'purchase' THEN 2 WHEN 'signup' THEN 0 ELSE -1 END) AS BIGINT) AS direction_vote,
        |  CAST(SUM(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS BIGINT) AS status_sum,
        |  COUNT(*) AS n,
        |  epoch_ms(MIN(ts)) AS t_min_ms,
        |  epoch_ms(MAX(ts)) AS t_max_ms,
        |  ROUND(AVG(value), 6) AS v_avg
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "p6_label_assign" ->
      """SELECT CASE WHEN o_orderstatus='F' THEN 1 WHEN o_orderstatus='O' THEN 0 ELSE -1 END AS label,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY label""".stripMargin,

    "p7_string_hygiene" ->
      """SELECT c_custkey,
        |  replace(upper(trim(c_name)), 'CUSTOMER#', 'C') AS name_clean,
        |  strip_accents(translate(trim(c_name), 'aeiou', 'àéîõü')) AS name_unaccented,
        |  strip_accents('Łódź-Äß-' || c_mktsegment) AS seg_unaccented,
        |  substr(c_mktsegment, 1, 5) AS seg5
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "j1_prefix_semijoin" ->
      """SELECT d.doc_id FROM documents d
        |WHERE EXISTS (
        |  SELECT 1 FROM (SELECT DISTINCT substr(text,1,8) AS pfx FROM documents WHERE source='src0') p
        |  WHERE substr(d.text, 1, 8) = p.pfx)
        |ORDER BY d.doc_id""".stripMargin,

    "j2_blacklist_anti" ->
      """SELECT l_suppkey, COUNT(*) AS n FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_acctbal < 0 AND s_suppkey = l_suppkey)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "j3_pair_anti" ->
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem b
        |  WHERE b.l_returnflag='R' AND b.l_suppkey=l.l_suppkey AND b.l_partkey=l.l_partkey)
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "j5_state_lookup" ->
      """SELECT a.o_custkey AS custkey, a.n_orders, a.spend,
        |  coalesce(c.c_acctbal, -1.0) AS acctbal,
        |  CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END AS cold_start
        |FROM (SELECT o_custkey, COUNT(*) AS n_orders,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |      FROM orders GROUP BY o_custkey) a
        |LEFT JOIN (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0) c
        |  ON a.o_custkey = c.c_custkey
        |ORDER BY custkey""".stripMargin,

    "a13_hll_distinct" ->
      s"""WITH h AS (
        |  SELECT l_returnflag,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |rr AS (
        |  SELECT l_returnflag, h % 64 AS reg,
        |    CASE WHEN h >> 6 = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END AS rank
        |  FROM h),
        |m AS (SELECT l_returnflag, reg, MAX(rank) AS r FROM rr GROUP BY 1, 2),
        |s AS (
        |  SELECT l_returnflag,
        |    SUM(CAST(pow(2, 55 - r) AS BIGINT)) AS sv, COUNT(*) AS present
        |  FROM m GROUP BY 1),
        |e AS (
        |  SELECT l_returnflag,
        |    ROUND(${graft.functions.SketchFunctions.HllK} /
        |          (sv + (64 - present) * (1::BIGINT << 55)), 6) AS hll_distinct
        |  FROM s),
        |x AS (SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_distinct
        |      FROM lineitem GROUP BY 1)
        |SELECT e.l_returnflag, hll_distinct, exact_distinct,
        |  ROUND(abs(hll_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
        |FROM e JOIN x USING (l_returnflag) ORDER BY l_returnflag""".stripMargin,

    // the oracle computes ONE single-pass estimate; Spark's merged path
    // must equal it exactly, and the in-query merge_lossless flag pins
    // the associativity claim on the Spark side too
    "a28_hll_merge" ->
      s"""WITH h AS (
        |  SELECT l_returnflag,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |rr AS (
        |  SELECT l_returnflag, h % 64 AS reg,
        |    CASE WHEN h >> 6 = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END AS rank
        |  FROM h),
        |m AS (SELECT l_returnflag, reg, MAX(rank) AS r FROM rr GROUP BY 1, 2),
        |s AS (
        |  SELECT l_returnflag,
        |    SUM(CAST(pow(2, 55 - r) AS BIGINT)) AS sv, COUNT(*) AS present
        |  FROM m GROUP BY 1),
        |e AS (
        |  SELECT l_returnflag,
        |    ROUND(${graft.functions.SketchFunctions.HllK} /
        |          (sv + (64 - present) * (1::BIGINT << 55)), 6) AS est
        |  FROM s)
        |SELECT l_returnflag, est AS hll_distinct, est AS single_pass,
        |  1 AS merge_lossless
        |FROM e ORDER BY l_returnflag""".stripMargin,

    "a14_cms_heavy_hitters" -> {
      val p = graft.operators.Dedup.HashMod
      val buckets = (0 until graft.functions.SketchFunctions.CmsRows).map { j =>
        val (a, b) = graft.operators.Dedup.Perms(j)
        s"SELECT $j AS j, (($a * h + $b) % $p) % 256 AS bucket FROM h"
      }.mkString("\n  UNION ALL ")
      s"""WITH h AS (
        |  SELECT o_custkey,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT % $p AS h
        |  FROM orders),
        |cnt AS (
        |  SELECT j, bucket, COUNT(*) AS cnt FROM (
        |  $buckets) GROUP BY 1, 2),
        |ex AS (
        |  SELECT o_custkey, COUNT(*) AS exact_count FROM orders GROUP BY 1
        |  ORDER BY exact_count DESC, o_custkey LIMIT 10),
        |eh AS (
        |  SELECT o_custkey, exact_count,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT % $p AS h
        |  FROM ex),
        |probes AS (
        |  ${(0 until graft.functions.SketchFunctions.CmsRows).map { j =>
             val (a, b) = graft.operators.Dedup.Perms(j)
             s"SELECT o_custkey, exact_count, $j AS j, (($a * h + $b) % $p) % 256 AS bucket FROM eh"
           }.mkString("\n  UNION ALL ")}),
        |est AS (
        |  SELECT p.o_custkey, ANY_VALUE(p.exact_count) AS exact_count,
        |    MIN(c.cnt) AS cms_count
        |  FROM probes p JOIN cnt c USING (j, bucket) GROUP BY 1)
        |SELECT o_custkey, cms_count, exact_count, cms_count - exact_count AS overcount
        |FROM est ORDER BY o_custkey""".stripMargin
    },

    "a15_salted_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_distinct
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "a18_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "a16_rollup" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,

    "a20_cube" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,

    "a17_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "j10_range_join" ->
      """WITH promos AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS promo_id,
        |    9131 + n_nationkey * 90 AS start_day,
        |    9131 + n_nationkey * 90 + 120 AS end_day
        |  FROM nation),
        |pts AS (
        |  SELECT o_orderkey, o_totalprice,
        |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS day
        |  FROM orders)
        |SELECT promo_id, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM pts JOIN promos ON day BETWEEN start_day AND end_day
        |GROUP BY 1 ORDER BY promo_id""".stripMargin,

    "j12_interval_overlap" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts::TIMESTAMP) // 1000000 AS s0,
        |    epoch_us(ts::TIMESTAMP) // 1000000 + CAST(ROUND(value) AS BIGINT) AS e0
        |  FROM events),
        |v AS (SELECT event_id AS v_id, s0 AS vs, e0 AS ve FROM e
        |      WHERE event_type = 'view'),
        |c AS (SELECT event_id AS c_id, s0 AS cs, e0 AS ce FROM e
        |      WHERE event_type = 'click')
        |SELECT v_id, c_id, LEAST(ve, ce) - GREATEST(vs, cs) AS overlap_s
        |FROM v JOIN c ON vs <= ce AND cs <= ve
        |ORDER BY v_id, c_id""".stripMargin,

    "j13_overlap_stats" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts::TIMESTAMP) // 1000000 AS s0,
        |    epoch_us(ts::TIMESTAMP) // 1000000 + CAST(ROUND(value) AS BIGINT) AS e0
        |  FROM events),
        |v AS (SELECT event_id AS v_id, s0 AS vs, e0 AS ve FROM e
        |      WHERE event_type = 'view'),
        |c AS (SELECT event_id AS c_id, s0 AS cs, e0 AS ce FROM e
        |      WHERE event_type = 'click')
        |SELECT v_id, COUNT(*) AS n_overlaps,
        |  CAST(SUM(LEAST(ve, ce) - GREATEST(vs, cs)) AS BIGINT) AS overlap_s_total,
        |  MIN(c_id) AS first_click
        |FROM v JOIN c ON vs <= ce AND cs <= ve
        |GROUP BY v_id ORDER BY v_id""".stripMargin,

    "j9_asof_join" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'click'),
        |j AS (
        |  SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |    r.click_id, epoch_ms(r.ts) AS click_ts_ms,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC NULLS LAST, r.click_id DESC) AS rn
        |  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts)
        |SELECT event_id, user_id, ts_ms, click_id, click_ts_ms
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "j14_asof_tolerance" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS ts FROM events
        |  WHERE event_type = 'click'),
        |j AS (
        |  SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |    r.click_id, epoch_ms(r.ts) AS click_ts_ms,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY r.ts DESC NULLS LAST, r.click_id DESC) AS rn
        |  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts
        |    AND r.ts >= l.ts - INTERVAL 1 HOUR)
        |SELECT event_id, user_id, ts_ms, click_id, click_ts_ms
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "j6_conditional_lookup" ->
      """SELECT s_suppkey,
        |  CASE WHEN s_nationkey < 10 THEN s_nationkey ELSE s_nationkey % 10 END AS lookup_key,
        |  n_name
        |FROM supplier LEFT JOIN nation
        |  ON CASE WHEN s_nationkey < 10 THEN s_nationkey ELSE s_nationkey % 10 END = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,

    "j7_join_collect_set" ->
      """SELECT l_suppkey,
        |  array_to_string(list_sort(array_agg(DISTINCT p_brand)), ',') AS brands,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "q2_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q3_local_supplier_volume" ->
      """SELECT n_name,
        |  ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE c_nationkey = s_nationkey
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q23_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  ROUND(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
        |  AND EXISTS (
        |    SELECT * FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q21_sole_fault" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT * FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT * FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 700.0, 2)
        |         AS avg_yearly
        |FROM lineitem l, part p
        |WHERE p_partkey = l_partkey
        |  AND p_brand = 'Brand#23'
        |  AND 5.0 * l_quantity *
        |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        |    < (SELECT SUM(l2.l_quantity) FROM lineitem l2
        |       WHERE l2.l_partkey = p.p_partkey)""".stripMargin,

    "q22_idle_balance" ->
      """SELECT c_mktsegment, COUNT(*) AS numcust,
        |  ROUND(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0, 2)
        |    AS totacctbal
        |FROM customer c
        |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
        |      (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0)
        |    > (SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
        |       FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT * FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey
        |  AND p_brand <> 'Brand#45'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    "q13_cust_order_dist" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q18_large_volume" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate,
        |  ROUND(CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100.0, 2) AS o_totalprice,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |    SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey HAVING SUM(l_quantity) > 280)
        |  AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_e4
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  ROUND(CAST(rev_e4 AS DOUBLE) / 10000.0, 2) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE rev_e4 = (SELECT MAX(rev_e4) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q20_potential_promo" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    SUM(CAST(l_quantity AS BIGINT)) AS ps_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT ps_suppkey FROM ps
        |  WHERE ps_partkey IN (
        |      SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |    AND 2 * ps_qty *
        |      (SELECT COUNT(*) FROM ps ps2
        |       WHERE ps2.ps_partkey = ps.ps_partkey)
        |    > (SELECT 3 * SUM(ps2.ps_qty) FROM ps ps2
        |       WHERE ps2.ps_partkey = ps.ps_partkey))
        |ORDER BY s_suppkey""".stripMargin,

    "q19_disjunctive_revenue" ->
      """SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0, 2)
        |    AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |  (p_brand IN ('Brand#11','Brand#12','Brand#13')
        |    AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15) OR
        |  (p_brand IN ('Brand#22','Brand#23','Brand#24')
        |    AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25) OR
        |  (p_brand IN ('Brand#33','Brand#34','Brand#35')
        |    AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 35))""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  ROUND(AVG(l_discount), 6) AS avg_disc,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "a3_rollup_topk_detail" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT s.o_custkey AS custkey, s.spend, s.n_orders, t.top_orders
        |FROM (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
        |        COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) s
        |JOIN (SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rn) AS top_orders
        |      FROM ranked WHERE rn <= 3 GROUP BY o_custkey) t
        |  ON s.o_custkey = t.o_custkey
        |ORDER BY custkey""".stripMargin,

    "a4_two_level_distinct" ->
      """SELECT o_custkey, COUNT(*) AS distinct_statuses,
        |  CAST(SUM(n) AS BIGINT) AS n_orders,
        |  CAST(SUM(total) AS DOUBLE) AS spend
        |FROM (SELECT o_custkey, o_orderstatus, COUNT(*) AS n,
        |        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        |      FROM orders GROUP BY o_custkey, o_orderstatus) g
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "a5_histogram_build" ->
      """SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt,
        |  ROUND(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY o_custkey), 6) AS freq
        |FROM orders GROUP BY o_custkey, o_orderpriority
        |ORDER BY o_custkey, o_orderpriority""".stripMargin,

    "a6_distinct_in_group" ->
      """SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "a7_global_stats" ->
      """SELECT ROUND(AVG(l_quantity), 6) AS mean_qty,
        |  ROUND(stddev_pop(l_quantity), 6) AS std_qty,
        |  MAX(l_quantity) AS max_qty, COUNT(*) AS n
        |FROM lineitem""".stripMargin,

    "a8_count_by_key" ->
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a9_znorm" ->
      """SELECT o_orderkey,
        |  ROUND((o_totalprice - s.mu) / s.sigma, 6) AS z
        |FROM orders CROSS JOIN
        |  (SELECT AVG(o_totalprice) AS mu, stddev_pop(o_totalprice) AS sigma FROM orders) s
        |ORDER BY o_orderkey""".stripMargin,

    "a10_crosstab_mean" ->
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |  ROUND(AVG(o_totalprice), 4) AS mean_price
        |FROM orders GROUP BY o_orderpriority, o_orderstatus
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    "a11_freq_rank" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin,

    "a12_user_profile" ->
      """SELECT user_id,
        |  array_to_string(list_sort(array_agg(DISTINCT event_type)), ',') AS types,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "o1_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "o2_pergroup_topk" ->
      """SELECT l_returnflag, rn, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem) t
        |WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin,

    "u2_intersect" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus='F'
        |INTERSECT
        |SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
        |ORDER BY o_orderkey""".stripMargin,

    "u3_except" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus='F'
        |EXCEPT
        |SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
        |ORDER BY o_orderkey""".stripMargin,

    "a19_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "u1_union_distinct" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus='F'
        |UNION
        |SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
        |ORDER BY o_orderkey""".stripMargin,

    "f1_md5" ->
      """SELECT c_custkey, md5(c_name) AS name_md5 FROM customer ORDER BY c_custkey""".stripMargin,

    "f4_prefix24" ->
      """SELECT c_custkey, ip,
        |  split_part(ip,'.',1) || '.' || split_part(ip,'.',2) || '.' || split_part(ip,'.',3) AS net24
        |FROM (SELECT c_custkey,
        |        CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_nationkey AS VARCHAR)
        |        || '.' || CAST(c_custkey % 100 AS VARCHAR) || '.7' AS ip
        |      FROM customer) t
        |ORDER BY c_custkey""".stripMargin,

    "f6_date_format" ->
      """SELECT strftime(ts, '%d/%m/%Y %H') AS hour_str, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY hour_str""".stripMargin,

    "f9_trimmed_mean_gaps" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id,
        |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
        |  FROM events),
        |ranked AS (
        |  SELECT user_id, gap_ms,
        |    row_number() OVER (PARTITION BY user_id ORDER BY gap_ms DESC, event_id) AS gr
        |  FROM gaps WHERE gap_ms IS NOT NULL)
        |SELECT user_id, ROUND(AVG(gap_ms / 1000.0), 6) AS trimmed_mean_s, COUNT(*) AS n_gaps
        |FROM ranked WHERE gr > 4
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "f10_word_explode" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin,
  )
}
