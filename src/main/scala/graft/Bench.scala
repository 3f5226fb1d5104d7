package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong
object Bench {
  /** Cumulative task-level shuffle/spill counters. Registered once; the
    * per-query delta of these totals attributes shuffle volume to the
    * query that ran between two snapshots (queries run strictly
    * sequentially here, and each snapshot is taken after the
    * post-query sweep, whose own jobs — clearCache + a listTables
    * collect — move no shuffle bytes, and which leaves the listener bus
    * ample time to drain).
    */
  private final class ShuffleMeter extends SparkListener {
    val read = new AtomicLong; val write = new AtomicLong; val spill = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snapshot: (Long, Long, Long) = (read.get, write.get, spill.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // debug aid: comma-separated query-name prefixes to restrict the run
    // (unset in driver runs — the full set is the round artifact)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // scale-run mechanism: comma-separated EXACT names to exclude (the
    // documented output-quadratic parity contracts). Exact and validated —
    // the r7 50× artifact silently lost f11_json_extract to a hand-built
    // prefix list, so coverage is now asserted, never assumed.
    val exclude = sys.env.get("SPARK_GRAFT_EXCLUDE")
      .map(_.split(",").toSeq.filter(_.nonEmpty).distinct).getOrElse(Nil)
    val unknownExcl = exclude.filterNot(SparkEntry.queries.contains)
    require(unknownExcl.isEmpty,
      s"SPARK_GRAFT_EXCLUDE names unknown queries: ${unknownExcl.mkString(",")}")
    val selected = {
      val base = only match {
        case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
        case None => SparkEntry.queries
      }
      val sel = base.filter { case (n, _) => !exclude.contains(n) }
      // the coverage contract of an exclusion-only run: everything not on
      // the explicit exclusion list IS in the run
      if (only.isEmpty)
        require(sel.size == SparkEntry.queries.size - exclude.size,
          s"selection lost queries: ${sel.size} != " +
            s"${SparkEntry.queries.size} - ${exclude.size}")
      sel
    }
    System.err.println(s"[bench] selected ${selected.size} of " +
      s"${SparkEntry.queries.size} queries" +
      (if (exclude.nonEmpty) s"; excluded: ${exclude.sorted.mkString(",")}" else ""))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: run EVERY query once at the smallest scale factor
    // so Janino codegen compilation + JIT of each query's generated
    // classes isn't charged to its timed run (cold-vs-warm differs by
    // 5-10× per query; in production these costs amortize across the
    // whole batch). Falls back to the bench SF if no smaller fixture.
    // candidates: a smaller sibling of sfDir, else small fixtures under
    // SPARK_GRAFT_WARM_ROOT (for custom sfDirs outside the fixture tree —
    // no hardcoded host paths, the env var is the only escape hatch)
    val warmDir = (Seq("sf0.001", "sf0.01").map(s => sfDir.replaceAll("sf[0-9.]+$", s))
        .filter(_ != sfDir) ++ // a no-op rewrite is sfDir itself: NOT a small fixture
        sys.env.get("SPARK_GRAFT_WARM_ROOT").toSeq
          .flatMap(r => Seq(s"$r/sf0.001", s"$r/sf0.01")))
      .find(d => new java.io.File(d).isDirectory).getOrElse(sfDir)
    // bounded: warmup must never eat a driver-side timeout as the query
    // set grows — but a fixed cap silently stops covering the surface as
    // queries are added (at 167 queries a 150s cap left 47 un-warmed, and
    // a ≥2.5s query timed cold skips the retime pass, reading as a
    // phantom regression). Scale the budget with the query count,
    // floored at the old 150s. r12 recalibration: at 226 queries the
    // 1.5 s/query budget stopped short at 171/226 and the 55 cold
    // queries read 3-10× their warm time (m9_audio_dedup 0.94 s warm vs
    // 10.0 s cold in back-to-back runs of the same code) — the heavy
    // composite queries added in r11/r12 average ~2 s of sf0.001 warmup
    // each, so the budget is now 3 s/query. The warmup loop still visits
    // each query exactly once; the budget is a cap, not a target, so
    // fully-warmed runs pay only the true warmup cost.
    // Warmup runs CONCURRENTLY from a small thread pool (guide §2.6 —
    // actions are only sequential because driver code calls them
    // sequentially): each sf0.001 warmup is latency-bound on job
    // scheduling (30-50 tiny jobs for the composite pipelines), not on
    // data, so sequential warmup costs ~3.2 s/query wall while using a
    // core or two — at 226 queries that is 12 minutes and it outgrew two
    // successive budget bumps (171/226 then 212/226 warmed; every
    // un-warmed ≥2.5 s query reads 2-10× its warm time, e.g.
    // m9_audio_dedup 10.0 s cold vs 0.94 s warm in back-to-back runs of
    // identical code). A handful of concurrent warmups back-fill each
    // other's scheduling gaps; Janino/JIT warm-compilation is process-
    // global, so WHICH thread first runs a query is irrelevant. Queries
    // that fail concurrently (e.g. two queries racing to create the same
    // one-time bucketed-layout table) are retried sequentially, so a
    // race cannot silently leave a query cold.
    val warmStart = System.nanoTime()
    val warmBudgetSec = math.max(150L, selected.size * 3L)
    val warmDeadline = warmStart + warmBudgetSec * 1000000000L
    def warmOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      if (System.nanoTime() >= warmDeadline) false
      else {
        // warm with the same noop-sink action the timed runs use so the
        // Janino classes compiled here are the ones the timed plan hits
        try { fn(spark, warmDir).write.format("noop").mode("overwrite").save(); true }
        catch { case _: Throwable => false }
      }
    val warmQueue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    selected.foreach(q => warmQueue.add(q))
    val warmedOk = new java.util.concurrent.atomic.AtomicInteger
    val warmFailed = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    val warmThreads = math.max(2, math.min(8, cpus.toInt / 4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmThreads)
    (1 to warmThreads).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          // job group is thread-local: every warmup job lands in "warmup"
          // so a hung one can be cancelled before the timed pass starts
          spark.sparkContext.setJobGroup("warmup", "bench warmup", true)
          var q = warmQueue.poll()
          while (q != null) {
            if (warmOne(q._2)) warmedOk.incrementAndGet() else warmFailed.add(q)
            q = warmQueue.poll()
          }
        }
      })
    }
    pool.shutdown()
    // a hung warmup query must NOT overlap the timed pass (its jobs would
    // contend for cores and leak shuffle bytes into early queries'
    // ShuffleMeter deltas, which assume strict sequentiality): on timeout,
    // cancel the warmup job group and hard-stop the pool before timing
    val warmDrained = pool.awaitTermination(
      warmBudgetSec + 120, java.util.concurrent.TimeUnit.SECONDS)
    if (!warmDrained) {
      System.err.println("[bench] WARNING: warmup pool timed out; cancelling " +
        "outstanding warmup jobs before the timed pass")
      try spark.sparkContext.cancelJobGroup("warmup") catch { case _: Throwable => }
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    // heal races: anything that failed under concurrency gets one quiet
    // sequential attempt inside the same budget
    warmFailed.forEach { q => if (warmOne(q._2)) warmedOk.incrementAndGet() }
    val warmed = warmedOk.get
    System.err.println(s"[bench] warmed $warmed/${selected.size} queries in " +
      f"${(System.nanoTime() - warmStart) / 1e9}%.1f s ($warmThreads threads)")
    // full warm coverage is part of the timing methodology (a cold-timed
    // ≥2.5 s query reads 2-10× its warm time): under-coverage is loud,
    // and only a deadline overrun can excuse it — a query that throws in
    // warmup will throw in the timed pass too and fail the run there
    if (warmed < selected.size && System.nanoTime() < warmDeadline)
      System.err.println(s"[bench] WARNING: ${selected.size - warmed} queries " +
        "failed warmup inside the budget; expect them to error in the timed pass")
    try {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .foreach(t => spark.catalog.dropTempView(t.name))
      System.gc()
    } catch { case _: Throwable => }
    val pass = timedPass(spark, selected.toSeq, sfDir)
    val fullJson = artifact(pass, exclude, sfDir)
    println(fullJson)
    // The full line above is ~20 KB at 226 queries — longer than the
    // harness's stdout-tail window, so the per-query map was unparseable
    // from stdout alone for two rounds (PERF r11/r12: n_common = 0). The
    // full artifact therefore ALSO lands in a file that tooling can read…
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_queries.json"))
      java.nio.file.Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full artifact written to ${p.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: could not write bench_queries.json: $e")
    }
    // …and the per-query timings stream as ≤2000-char JSON chunk lines
    // (each self-contained: {"metric":"queries_chunk","i":k,"queries":{…}})
    // before the compact final line, for tail parsers that read lines.
    def chunkLines(metric: String, m: Seq[(String, Double)]): Unit = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var cur = new StringBuilder
      m.foreach { kv =>
        val ent = pass.entry(kv)
        if (cur.nonEmpty && cur.length + ent.length > 1800) {
          buf += cur.toString; cur = new StringBuilder
        }
        if (cur.nonEmpty) cur.append(",")
        cur.append(ent)
      }
      if (cur.nonEmpty) buf += cur.toString
      buf.zipWithIndex.foreach { case (c, i) =>
        println(s"""{"metric":"$metric","i":$i,"n":${buf.size},"queries":{$c}}""")
      }
    }
    chunkLines("queries_chunk", pass.best)
    // compact FINAL line that always fits inside the tail window: headline
    // numbers plus the 10 slowest queries
    val clean = pass.clean(pass.best)
    val slow = clean.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${pass.total},"unit":"sec","n_queries":${pass.best.size},""" +
      f""""mean_sec_per_query":${if (clean.isEmpty) 0.0 else pass.total / clean.size}%.4f,""" +
      f""""first_pass_total":${pass.firstTotal}%.2f,"shuffle_mb_total":${pass.shuffleTotal}%.1f,""" +
      f""""spill_mb_total":${pass.spillTotal}%.1f,"n_errors":${pass.errors.size},""" +
      f""""slowest":$slow,"sf":"$sfDir"}""")
    spark.stop()
    // any per-query exception is a failed run: the artifact above still
    // carries every number (and the errors map), but rc must be nonzero
    // so a regression can never hide as a fast timing
    if (pass.errors.nonEmpty) {
      System.err.println(s"[bench] FAILED: ${pass.errors.size} queries threw: " +
        pass.errors.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }

  private[graft] type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** The samples of one timed pass, each keyed by query name in run order.
    * A query that threw in either pass is in `errors`: its samples are the
    * wall time around an exception, not a timing, so it reads `null` in
    * every per-query map and stays out of every total — a failed run's
    * headline can never be compared as if it were a clean, faster one.
    */
  private[graft] final case class TimedPass(
      first: Seq[(String, Double)], best: Seq[(String, Double)],
      shuffleMb: Seq[(String, Double)], spillMb: Seq[(String, Double)],
      errors: Seq[(String, String)]) {
    private val failed = errors.map(_._1).toSet
    /** The samples of the queries that ran clean. */
    def clean(m: Seq[(String, Double)]): Seq[(String, Double)] = m.filterNot(kv => failed(kv._1))
    def total: Double = clean(best).map(_._2).sum
    def firstTotal: Double = clean(first).map(_._2).sum
    def shuffleTotal: Double = clean(shuffleMb).map(_._2).sum
    def spillTotal: Double = clean(spillMb).map(_._2).sum
    /** One `"name":value` JSON entry, `null` for a failed query. */
    def entry(kv: (String, Double)): String =
      "\"" + kv._1 + "\":" + (if (failed(kv._1)) "null" else f"${kv._2}%.4f")
    def json(m: Seq[(String, Double)]): String = m.map(entry).mkString("{", ",", "}")
  }

  /** Time every selected query twice and keep the min (the reasons are
    * in the comments below); the session's cached state is swept between
    * queries.
    */
  private[graft] def timedPass(spark: SparkSession, selected: Seq[(String, Query)],
      sfDir: String): TimedPass = {
    // hygiene between queries: drop leaked state (memory-sink tables,
    // cached frames) so later queries aren't taxed by earlier ones' GC
    def sweep(gc: Boolean = true): Unit = try {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .foreach(t => spark.catalog.dropTempView(t.name))
      if (gc) System.gc() // let the ContextCleaner reap dead broadcasts/shuffles
    } catch { case _: Throwable => }
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    // a query that throws is a FAILED RUN, not a near-instant timing: the
    // error is recorded per query, rides the artifact, and forces a
    // nonzero exit after the artifact is printed (r12's silent catch let
    // a bench-SF-only failure read as a ~0 s success with rc 0)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeOnce(name: String, fn: Query, gc: Boolean = true): Double = {
      val t0 = System.nanoTime()
      // time a noop-sink write, not .count(): under a count aggregate
      // Catalyst's EliminateSorts removes top-level ORDER BYs and column
      // pruning drops projections, so sorted/projected queries would be
      // timed cheaper than they run when their full result is consumed
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name,
          (e.getClass.getName + ": " + Option(e.getMessage).getOrElse(""))
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(300))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      sweep(gc)
      dt
    }
    try {
      // per-query shuffle/spill attribution: delta of the cumulative meter
      // around each first-pass run (the retime pass reuses the first-pass
      // numbers — shuffle volume is plan-determined, not run-jittered)
      val shuffleMb = Seq.newBuilder[(String, Double)]
      val spillMb = Seq.newBuilder[(String, Double)]
      // System.gc() every query cost more bench wall-clock than the jitter
      // it removed (226 full GCs ≈ minutes at 32 cores) and is one of the
      // fixed per-query overheads that made the sf0.1 suite SLOWER at 32
      // cores than at 8 (VERDICT r12): sweep state every query, full GC
      // every 8th — the ContextCleaner still reaps between GCs, and the
      // min-of-2 retime absorbs the residual jitter.
      val firstPass: Seq[(String, Double)] =
        selected.zipWithIndex.map { case ((name, fn), i) =>
          val (r0, w0, s0) = meter.snapshot
          val dt = timeOnce(name, fn, gc = i % 8 == 7)
          val (r1, w1, s1) = meter.snapshot
          shuffleMb += name -> ((r1 - r0) + (w1 - w0)) / 1048576.0
          spillMb += name -> (s1 - s0) / 1048576.0
          name -> dt
        }
      // Stage-scheduling + GC jitter dominates small queries and is NOT
      // amortized by the big ones either: back-to-back identical runs of
      // the heavy composites swing 2-5× in this single-JVM 226-query run
      // (c5w_curate_report_fuzzy 11.5 vs 24.0 s, d24_lsh_recall 3.4 vs
      // 17.2 s — same code, same data, adjacent windows), so since r12
      // EVERY query is re-timed once and the min kept. The pre-r12 run
      // retimed only queries under 2.5 s on the theory that long queries
      // amortize jitter; the r11 spread campaign and this round's
      // back-to-back runs measured that theory wrong — the ≥2.5 s set held
      // 57 queries carrying 285/435 s of the headline, each a single draw
      // from a distribution with >2× spread. Both series stay in the
      // artifact ("queries" = min-of-2, "queries_first" = single-pass), so
      // cross-round ratios never mix methodologies.
      // gc=false on the retime pass: a full System.gc() per query costs
      // more wall-clock than the jitter it removes on the SECOND sample
      // (the first pass already swept)
      val best = firstPass.zip(selected).map { case ((name, dt), (_, fn)) =>
        name -> math.min(dt, timeOnce(name, fn, gc = false))
      }
      TimedPass(firstPass, best, shuffleMb.result(), spillMb.result(), errors.toSeq)
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  /** The full artifact line: headline totals and every per-query map. */
  private[graft] def artifact(pass: TimedPass, exclude: Seq[String], sfDir: String): String = {
    // BOTH series in the artifact: "queries" = min-of-2 (the r5-compatible
    // headline), "queries_first" = single-pass (r1–r4-comparable) — so
    // cross-round ratios never mix timing methodologies again.
    // Shuffle discipline, quantified: total MB moved per query (read+write,
    // so one shuffled MB counts twice), plus any query that spilled. At
    // bench SF nothing should spill; at 100 TB the same ranking predicts
    // which stages dominate the network.
    val spilled = pass.clean(pass.spillMb).filter(_._2 > 0.5)
    val exclJson = exclude.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errJson = pass.errors
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    // the ensure*-layout queries build their bucketed/partitioned tables
    // ONCE per JVM: their first-pass sample carries that one-time write,
    // the min-of-2 headline is the steady-state (post-layout) time —
    // declared per query here so cross-round ratios are read correctly
    val resultKeys = pass.best.map(_._1).toSet
    val layoutQueries = Seq("c8_bucketed_join", "c9_partition_pruning",
      "c10_dynamic_pruning").filter(resultKeys.contains)
    val layoutJson = layoutQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${pass.total},"unit":"sec","queries":${pass.json(pass.best)},""" +
      s""""first_pass_total":${pass.firstTotal},"queries_first":${pass.json(pass.first)},""" +
      f""""shuffle_mb_total":${pass.shuffleTotal}%.1f,"spill_mb_total":${pass.spillTotal}%.1f,""" +
      s""""shuffle_mb":${pass.json(pass.shuffleMb)},"spilled_queries":${pass.json(spilled)},""" +
      s""""errors":$errJson,"layout_queries":$layoutJson,""" +
      s""""layout_timing":"headline is steady-state; one-time layout build is in queries_first",""" +
      s""""n_universe":${SparkEntry.queries.size},"excluded":$exclJson,"sf":"$sfDir"}"""
  }
}
