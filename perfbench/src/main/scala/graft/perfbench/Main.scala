package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{CurateApp, DedupWidths, GraftApp, GraftConfig, GraftContinuousApp, GraftSession}
import graft.detectors.{AuthProfiling, FlowSummary, HogzillaBatch}
import graft.functions.TextFunctions
import graft.operators.{Dedup, StateSwap}

/** The timed process: runs one workload over inputs that [[Gen]] wrote and
  * writes one JSON result object to `resultFile`.
  *
  * {{{
  * java ... graft.perfbench.Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> \
  *   <resultFile> <expectedFile> [authDir]
  * }}}
  *
  * With trace 0 the result holds the end-to-end metrics; with trace 1 the
  * per-layer metrics, and the spans go to `<workDir>/spans.jsonl`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 7 || args.length == 8, "usage: Main <workload> <dataDir> " +
      "<workDir> <seconds> <trace> <resultFile> <expectedFile> [authDir]")
    val Array(workload, data, work, seconds, trace, resultFile, expected) = args.take(7)
    val r = new Runner(workload, data, work, seconds.toDouble, trace == "1", expected,
      args.lift(7))
    val json = try r.run() finally r.close()
    Gen.write(new File(resultFile), json)
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Runs one workload. `expectedFile` holds the output fingerprints of the
  * first clean run on the same inputs, one `key print` line each; later
  * runs must match them. `authDir`, in a traced `curate_corpus` run, holds
  * the auth backlog that the continuous-mode layers are measured on.
  */
final class Runner(workload: String, data: String, work: String, seconds: Double,
                   traced: Boolean, expectedFile: String, authDir: Option[String]) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private var session: SparkSession = _
  private def spark = session
  private val layers = new LayerListener
  private val tr = new Tracer(session, traced)

  private var prepare: () => Unit = () => ()
  private val setups = ArrayBuffer.empty[Double]
  private var first = Double.NaN
  private val warm = ArrayBuffer.empty[Double]
  private var attempted = 0
  private var failed = 0
  private val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
  private val outputs = mutable.LinkedHashMap.empty[String, String]

  private val inputRows = readText(s"$data/rows.txt").trim.toLong

  def close(): Unit = if (session != null) session.stop()

  // ------------------------------------------------------------- helpers

  private def readText(p: String) = new String(Files.readAllBytes(new File(p).toPath), UTF_8)

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def fresh(dir: String): String = {
    Gen.deleteTree(new File(dir)); dir
  }

  private def buildSession(): Unit = {
    session = tr.span("session.build") { GraftSession.build(s"local[$cores]", cores) }
    if (traced) spark.sparkContext.addSparkListener(layers)
  }

  /** The set-up from process start until the first call can start. */
  private def setUp(prep: () => Unit): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    prepare = prep
    buildSession(); prepare()
    setups += (System.currentTimeMillis() - jvmStart) / 1e3
  }

  /** More set-ups after the timed phase, so that `setup_s` is a median:
    * each stops the session, then builds it and prepares the inputs again.
    */
  private def moreSetUps(n: Int): Unit = for (_ <- 0 until n) {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    setups += timed { buildSession(); prepare() }._1
  }

  /** One call: on success its time is returned, on failure it is counted
    * and contributes no timing.
    */
  private def attempt(call: () => Unit)(check: () => Unit): Option[Double] = {
    attempted += 1
    try {
      val (t, _) = timed(call())
      System.err.println(f"[perfbench] call ${attempted - 1}: $t%.3f s")
      check()
      Some(t)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] call failed: $e")
        failed += 1
        None
    }
  }

  /** The first call, then `warmCalls` warm calls. The count is fixed, not
    * the time: later calls run faster as the JIT warms up, so a time budget
    * would make the median depend on machine speed.
    */
  private def loop(warmCalls: Int, call: Int => Unit, check: Int => Unit): Unit =
    for (i <- 0 to warmCalls)
      attempt(() => call(i))(() => check(i)).foreach(t => if (i == 0) first = t else warm += t)

  /** The output `print` under `key` must match every earlier call of this
    * run and the print the first clean run on these inputs recorded.
    */
  private def expect(key: String, print: String): Unit = {
    outputs.get(key).filter(_ != print).foreach(p =>
      throw new CheckFailed(s"$key output differs across calls: $p vs $print"))
    outputs(key) = print
    recorded.get(key).filter(_ != print).foreach(p =>
      throw new CheckFailed(s"$key output differs from the recorded one: $p vs $print"))
  }

  private lazy val recorded: Map[String, String] = {
    val f = new File(expectedFile)
    if (!f.exists()) Map.empty
    else readText(f.getPath).split("\n").filter(_.nonEmpty)
      .map(_.split(" ", 2)).map(a => a(0) -> a(1)).toMap
  }

  private def recordOutputs(): Unit = {
    val added = outputs.filter { case (k, _) => !recorded.contains(k) }
    if (failed == 0 && added.nonEmpty) {
      new File(expectedFile).getParentFile.mkdirs()
      Gen.write(new File(expectedFile), (recorded ++ added).toSeq.sorted
        .map { case (k, v) => s"$k $v\n" }.mkString)
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Least heap in use over a few full GCs, spaced so that Spark's
    * context cleaner can drop what the previous GC made unreachable.
    */
  private def heapRetainedMb(): Double = (0 until 4).map { _ =>
    System.gc()
    Thread.sleep(250)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  private def layer(name: String, v: Double): Unit = layerMetrics(name) = v

  private def flush(): Unit = org.apache.spark.perfbench.ListenerFlush(spark.sparkContext)

  private def resetLayers(): Unit = { flush(); layers.reset(); layers.resetPinned() }

  // ---------------------------------------------------------------- run

  def run(): String = {
    new File(work).mkdirs()
    workload match {
      case "sflow_batch" => sflowBatch()
      case "curate_corpus" => curateCorpus()
      case other => sys.error(s"unknown workload $other")
    }
    val heap = if (traced) 0.0 else heapRetainedMb()
    if (!traced) moreSetUps(4)
    recordOutputs()
    // a workload without warm calls (one call per process) reports its
    // one call as the median call
    val calls = if (warm.isEmpty) Seq(first).filterNot(_.isNaN) else warm.toSeq
    val p50 = median(calls)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("first_batch_s", first, "s"),
        ("batch_p50_s", p50, "s"),
        ("rows_per_s", inputRows * calls.size / calls.sum, "1/s"),
        ("heap_retained_mb", heap, "MB"))
      else {
        Files.write(new File(work, "spans.jsonl").toPath, tr.toJsonLines.getBytes(UTF_8))
        flush()
        Files.write(new File(work, "layers.jsonl").toPath, layers.toJsonLines.getBytes(UTF_8))
        PerLayer.Names.map { case (n, unit) => (n, layerMetrics.getOrElse(n, 0.0), unit) }
      }
    val ok = failed == 0 && attempted > 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$x,"unit":"$u"}""" }.mkString(",")
    s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }

  /** Whole-process JVM counters so far, and the session's build time. */
  private def jvmLayers(): Unit = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    layer("codegen.compile_s", cg.getSnapshot.getMean * cg.getCount / 1e3)
    layer("jvm.jit_s", ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
    layer("jvm.gc_s", ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3)
    layer("session.build_s", tr.durations("session.build").headOption.getOrElse(0.0))
  }

  /** Per-call Spark totals over the traced calls, all layers together. */
  private def sparkLayers(calls: Int): Unit = {
    flush()
    val t = layers.total(!_.startsWith("site:"))
    layer("spark.jobs", t.jobs.toDouble / calls)
    layer("spark.stages", t.stages.toDouble / calls)
    layer("spark.tasks", t.tasks.toDouble / calls)
    layer("spark.shuffle_mb", t.shuffleBytes / 1e6 / calls)
    layer("spark.spill_mb", t.spillBytes / 1e6 / calls)
    layer("spark.peak_exec_mem_mb", t.peakExecBytes / 1e6)
    layer("spark.pinned_mb", layers.peakPinnedBytes / 1e6)
  }

  // -------------------------------------------------------- sflow_batch

  /** One GraftApp.run per process, as in production, where each 6-hour
    * window is a fresh spark-submit: the call runs right after the set-up
    * restored the history state.
    */
  private def sflowBatch(): Unit = {
    val samples = s"$data/samples"
    val state = s"$work/state"
    val out = s"$work/out"
    val plants = readText(s"$data/plants.tsv").split("\n").filter(_.nonEmpty)
      .map(_.split("\t", -1)).map(a => (a(0), a(1), a(2))).toSeq
    def restore(): Unit = Gen.copyTree(new File(s"$data/state"), new File(fresh(state)))
    def readState(): Seq[DataFrame] =
      (Gen.HistNames ++ Seq("blacklist", "os_repos")).map(h =>
        StateSwap.readOrElse(spark, s"$state/$h", HogzillaBatch.emptyProfiles(spark)))

    // every planted host alerted by its detector; alerts (but their
    // creation time) and the learned state identical across runs
    def check(): Unit = {
      val alerts = spark.read.parquet(s"$out/alerts")
      val got = alerts.select("detector", "my_ip", "alien_ip").collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse(""),
          Option(r.getString(2)).getOrElse(""))).toSet
      val missing = plants.filterNot { case (d, my, alien) =>
        got.exists { case (gd, gm, ga) => gd == d && (my.isEmpty || gm == my) &&
          (alien.isEmpty || ga == alien) }
      }
      if (missing.nonEmpty) throw new CheckFailed(s"planted hosts not alerted: $missing")
      val learned = Gen.HistNames
        .map(h => spark.read.parquet(s"$state/$h").withColumn("table", lit(h)))
        .reduce(_ unionByName _)
      expect("sflow", Fingerprint.of(alerts, drop = Seq("time")) + " " + Fingerprint.of(learned))
    }

    setUp(() => tr.span("state.read") { restore(); readState() })
    val untracedP50 = new File(s"$data/untraced_p50.txt")
    if (!traced) {
      attempt(() => GraftApp.run(spark, samples, state, out, Gen.MyNets))(() => check())
        .foreach { t =>
          first = t
          Gen.write(untracedP50, s"$t\n")
        }
      return
    }

    // the traced call: the steps of GraftApp.run, one span per layer
    resetLayers()
    tr.run = "call"
    var rowsOut = 0L
    attempt(() => tr.span("call") {
      val (samplesDf, st) = tr.span("state.read") { (spark.read.parquet(samples), readState()) }
      tr.span("flow_summary") {
        rowsOut = FlowSummary.summarize(samplesDf, Gen.MyNets).cache().count()
      }
      val (alerts, updated, reputation, release) = tr.span("hogzilla_batch.plan") {
        HogzillaBatch.run(spark, samplesDf, Gen.MyNets, Gen.profileTables(st), st(9), st(10))
      }
      tr.span("alerts.write") { alerts.write.mode(SaveMode.Append).parquet(s"$out/alerts") }
      tr.span("reputation.write") {
        reputation.proxies.write.mode(SaveMode.Overwrite).parquet(s"$out/proxies")
        reputation.bigProviders.write.mode(SaveMode.Overwrite).parquet(s"$out/big_providers")
      }
      tr.span("state_swap") {
        Gen.tablesOf(updated).zip(Gen.HistNames)
          .foreach { case (df, h) => StateSwap.swap(df, s"$state/$h") }
      }
      tr.span("release") { release() }
    })(() => check())
    flush()
    val call = tr.durations("call").head
    val children = tr.spans.filter(s => s != null && s.run == "call" && s.name != "call")
    layer("trace.coverage", children.map(_.seconds).sum / call)
    // against the last untraced run on the same inputs, if one ran
    if (untracedP50.exists())
      layer("trace.overhead_s", call - readText(untracedP50.getPath).trim.toDouble)
    def one(name: String) = tr.durations(name).last
    def group(name: String) = layers.total(_ == name)
    val written = spark.read.parquet(s"$out/alerts")
      .agg(count(lit(1)), coalesce(sum(length(col("flows"))), lit(0L))).head()
    layer("state.read_s", one("state.read"))
    layer("flow_summary.s", one("flow_summary"))
    layer("flow_summary.rows_out", rowsOut.toDouble)
    layer("flow_summary.shuffle_mb", group("flow_summary").shuffleBytes / 1e6)
    layer("hogzilla_batch.plan_s", one("hogzilla_batch.plan"))
    layer("detectors.alerts", written.getLong(0).toDouble)
    layer("alerts.write_s", one("alerts.write"))
    layer("alerts.jobs", group("alerts.write").jobs.toDouble)
    layer("alerts.flows_mb", written.getLong(1) / 1e6)
    layer("reputation.write_s", one("reputation.write"))
    layer("state_swap.s", one("state_swap"))
    layer("state_swap.jobs", group("state_swap").jobs.toDouble)
    layer("state_swap.mb_written", group("state_swap").writtenBytes / 1e6)
    sparkLayers(1)

    // each detector section alone, over a cached summary of the window
    restore()
    tr.run = "detectors"
    val st = readState()
    val profiles = Gen.profileTables(st)
    val samplesDf = spark.read.parquet(samples)
    val summary = FlowSummary.summarize(samplesDf, Gen.MyNets).cache()
    summary.count()
    for (section <- PerLayer.Sections) {
      val conf = GraftConfig.parse(PerLayer.Sections.filterNot(_ == section)
        .map(s => s"$s.disabled = 1").mkString("\n"))
      tr.span(s"detectors.$section") {
        HogzillaBatch.run(spark, samplesDf, Gen.MyNets, profiles, st(9), st(10), conf)
          ._1.select("detector", "my_ip", "alien_ip").count()
      }
      layer(s"detectors.$section.s", one(s"detectors.$section"))
    }
    summary.unpersist()
    jvmLayers()
  }

  // ------------------------------------------------------ curate_corpus

  private def curateCorpus(): Unit = {
    setUp(() => tr.span("input.read") { spark.read.parquet(s"$data/documents.parquet").schema })
    def call(i: Int): Unit = CurateApp.run(spark, data, s"$work/out$i")
    // the report partitions the input, its kept row is the curated table,
    // which holds no held-out benchmark doc and no two equal texts; the
    // report is identical across calls and runs
    def check(i: Int): Unit = {
      val rows = spark.read.parquet(s"$work/out$i/report").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val n = rows.map(_._2).sum
      if (n != inputRows) throw new CheckFailed(s"report covers $n of $inputRows docs")
      val curated = spark.read.parquet(s"$work/out$i/curated")
      val c = curated.agg(count(lit(1)), countDistinct(col("text")),
        sum(when(col("doc_id") % 50 === 0, 1).otherwise(0))).head()
      val kept = rows.find(_._1 == "kept").map(_._2).getOrElse(0L)
      if (c.getLong(0) != kept) throw new CheckFailed(s"kept $kept but curated ${c.getLong(0)}")
      if (c.getLong(1) != kept) throw new CheckFailed(s"curated texts not distinct: $c")
      if (!c.isNullAt(2) && c.getLong(2) != 0)
        throw new CheckFailed(s"${c.getLong(2)} benchmark docs curated")
      expect("curate", rows.mkString(";"))
      Gen.deleteTree(new File(s"$work/out$i"))
    }
    loop(warmCalls = math.max(2, math.round(seconds / 5).toInt), call, check)
    if (!traced) return

    // untraced and traced calls alternate, so JIT warm-up does not
    // masquerade as tracing overhead
    resetLayers()
    val nTraced = 2
    val untraced = (0 until nTraced).map { i =>
      val (t, _) = timed(call(200 + i))
      Gen.deleteTree(new File(s"$work/out${200 + i}"))
      tr.run = s"call$i"
      tr.span("call") { call(100 + i) }
      check(100 + i)
      t
    }
    layer("trace.overhead_s", median(tr.durations("call")) - median(untraced))
    sparkLayers(nTraced)

    // the curation layers alone, once each
    tr.run = "layers"
    val docs = graft.sources.Catalog.documents(spark, data)
    val toks = TextFunctions.tokens(col("text"))
    tr.span("text.quality") {
      docs.select(sum(TextFunctions.qualityScore(col("text"), toks))).collect()
    }
    tr.span("text.shingles") {
      TextFunctions.explodedDistinctShingles(docs.select("doc_id", "text"), "doc_id", "text", 3)
        .count()
    }
    val s3 = docs.select("doc_id", "text", "n_chars")
    val pairs = tr.span("dedup.candidates") {
      DedupWidths.default.candidatePairs(s3).localCheckpoint(true)
    }
    val nPairs = pairs.count()
    val truth = spark.read.parquet(s"$data/truth")
    val hits = pairs.join(truth, Seq("doc1", "doc2"), "left_semi").count()
    tr.span("dedup.resolve") { Dedup.resolveDuplicates(s3, pairs, pairsDistinct = true).count() }
    tr.span("contam") {
      val train = docs.filter(col("doc_id") % 50 =!= 0).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(array_distinct(TextFunctions.shingles(toks, 3))).as("shingle"))
        .distinct().withColumn("hit", lit(1))
      TextFunctions.explodedDistinctShingles(train, "doc_id", "text", 3)
        .join(bench, Seq("shingle"), "left")
        .groupBy("doc_id").agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_overlap"))
        .filter(col("n_overlap") >= col("n_sh") * 0.5).count()
    }
    layer("text.quality_s", tr.durations("text.quality").head)
    layer("text.shingles_s", tr.durations("text.shingles").head)
    layer("dedup.candidates_s", tr.durations("dedup.candidates").head)
    layer("dedup.candidate_pairs", nPairs.toDouble)
    layer("dedup.pair_yield", if (nPairs == 0) 0.0 else hits.toDouble / nPairs)
    layer("dedup.resolve_s", tr.durations("dedup.resolve").head)
    layer("contam.s", tr.durations("contam").head)
    // the process counters cover the curation calls only
    jvmLayers()
    authDir.foreach(authStream)
  }

  // ----------------------------------------------- auth stream (traced only)

  /** The continuous mode's layers: a backlog of equal-size auth files
    * drained through GraftContinuousApp.run by a file stream, one file per
    * micro-batch with a 0 s interval, so each batch starts when the
    * previous one commits. Then AuthProfiling's two detectors run alone
    * over the last file against the learned profiles. Every planted user
    * must be alerted by its detector, and the final profile state must
    * match the recorded one.
    */
  private def authStream(dir: String): Unit = {
    val backlog = s"$dir/backlog"
    val stateDir = s"$work/auth"
    val root = s"$stateDir/auth_state"
    val out = s"$work/auth_out"
    var progress = Seq.empty[StreamingQueryProgress]
    tr.run = "auth"
    attempt(() => tr.span("auth.drain") {
      val schema = spark.read.parquet(backlog).schema
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(backlog)
      val q = GraftContinuousApp.run(spark, stream, stateDir, out, 0)
      try {
        q.processAllAvailable()
        progress = q.recentProgress.toSeq
      } finally q.stop()
    }) { () =>
      val alerts = spark.read.parquet(s"$out/auth_alerts").select("detector", "user_name")
        .collect().map(r => (r.getString(0), r.getString(1)))
      val missing = Gen.AuthPlants.filterNot(alerts.contains)
      if (missing.nonEmpty) throw new CheckFailed(s"planted users not alerted: $missing")
      layer("auth_profiling.alerts", alerts.length.toDouble)
      val profiles = spark.read.parquet(s"$root/profiles")
      val coords = spark.read.parquet(s"$root/city_coords")
      expect("auth", Fingerprint.of(profiles) + " " + Fingerprint.of(coords))
    }

    // per-batch durations from the query's progress reports, past the
    // first three (warm-up) batches
    val batches = progress.filter(_.numInputRows > 0).drop(3)
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
    layer("stream.trigger_p50_s", median(batches.map(ms(_, "triggerExecution"))))
    layer("stream.add_batch_p50_s", median(batches.map(ms(_, "addBatch"))))
    layer("stream.offsets_s", median(batches.map(p =>
      ms(p, "latestOffset") + ms(p, "walCommit") + ms(p, "commitOffsets"))))
    layer("stream.planning_s", median(batches.map(ms(_, "queryPlanning"))))

    val last = spark.read.parquet(f"$backlog/part-${Gen.AuthFiles - 1}%05d.parquet")
    val profiles = spark.read.parquet(s"$root/profiles")
      .filter(col("name") =!= GraftContinuousApp.BatchMarker)
    val coords = spark.read.parquet(s"$root/city_coords")
    tr.span("auth_profiling.atypical") {
      AuthProfiling.atypicalAccess(last, profiles, coords).count()
    }
    tr.span("auth_profiling.travel") { AuthProfiling.impossibleTravel(last).count() }
    layer("auth_profiling.atypical_s", tr.durations("auth_profiling.atypical").head)
    layer("auth_profiling.travel_s", tr.durations("auth_profiling.travel").head)
  }
}

/** The per-layer metric names and units, in report order. */
object PerLayer {
  /** HogzillaBatch's conf sections, one detector each. */
  val Sections: Seq[String] = Seq("topTalkers", "SMTPTalkers", "p2p", "mediaStreaming",
    "atypicalPorts", "atypicalAlienPorts", "atypicalPairs", "atypicalData",
    "alienNetworkAtypicalPorts", "alien", "UDPAmplifier", "abusedSMTP", "dnsTunnel",
    "ICMPTunnel", "hPortScan", "vPortScan", "DDoS", "BotNet", "osDiscovery")

  val Names: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "state.read_s" -> "s",
    "flow_summary.s" -> "s", "flow_summary.rows_out" -> "count", "flow_summary.shuffle_mb" -> "MB",
    "hogzilla_batch.plan_s" -> "s") ++
    Sections.map(s => s"detectors.$s.s" -> "s") ++ Seq(
    "detectors.alerts" -> "count",
    "alerts.write_s" -> "s", "alerts.jobs" -> "count", "alerts.flows_mb" -> "MB",
    "reputation.write_s" -> "s",
    "state_swap.s" -> "s", "state_swap.jobs" -> "count", "state_swap.mb_written" -> "MB",
    "text.quality_s" -> "s", "text.shingles_s" -> "s",
    "dedup.candidates_s" -> "s", "dedup.candidate_pairs" -> "count", "dedup.pair_yield" -> "ratio",
    "dedup.resolve_s" -> "s", "contam.s" -> "s",
    "stream.trigger_p50_s" -> "s", "stream.add_batch_p50_s" -> "s", "stream.offsets_s" -> "s",
    "stream.planning_s" -> "s",
    "auth_profiling.atypical_s" -> "s", "auth_profiling.travel_s" -> "s",
    "auth_profiling.alerts" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.peak_exec_mem_mb" -> "MB",
    "spark.pinned_mb" -> "MB",
    "codegen.compile_s" -> "s", "jvm.jit_s" -> "s", "jvm.gc_s" -> "s",
    "trace.overhead_s" -> "s", "trace.coverage" -> "ratio")
}
