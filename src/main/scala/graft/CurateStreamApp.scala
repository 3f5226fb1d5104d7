package graft

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.TextFunctions._
import graft.operators.{Buckets, Dedup, Pin, StateSwap}
import graft.streaming.StreamingJobs

/** Continuous corpus curation — the streaming sibling of [[CurateApp]]:
  * documents arrive as a stream, and each micro-batch is screened
  * against the EVOLVING corpus state before its survivors join that
  * state. This is the shape continuous ingest takes at 100 TB: the
  * expensive whole-corpus pass ([[CurateApp]]) runs once at bootstrap,
  * then every arrival pays only a quality gate plus two index lookups.
  *
  * {{{
  * spark-submit --class graft.CurateStreamApp graft.jar \
  *   <docStreamDir> <stateDir> <outDir> [intervalSecs] [confPath]
  * }}}
  *
  * Per micro-batch, in drop-precedence order:
  *   1. `quality`   — the selected gate (`curation.qualityGate`:
  *                    `score` = composite score vs `curation.qualityMin`;
  *                    `gopher` = rule conjunction; `perplexity` = bigram-
  *                    LM NLL vs the [[bootstrapLm]]-trained LM state);
  *   2. `exact_dup` — normalized fingerprint already in the corpus
  *                    fingerprint state, or seen earlier in this batch
  *                    (first occurrence keeps);
  *   3. `image_dup` — (curation.imageScreen = phash, media-bearing
  *                    streams only) the row's image pHash lands within
  *                    `curation.image.maxHamming` of a corpus image
  *                    (4×16-bit band index + in-join Hamming verify) or
  *                    of an earlier image in the same batch;
  *   4. `audio_dup` — (curation.audioScreen = fingerprint) the clip's
  *                    shared distinct constellation fps with one corpus
  *                    clip (audio_fps state) or an earlier in-batch clip
  *                    clear `curation.audio.minContainment` of the
  *                    SMALLER side's fp count (the m9 verify — catches
  *                    truncated re-rips AND arrivals extending a corpus
  *                    clip); silence sentinels are excluded end-to-end;
  *   5. `contaminated` — (curation.contamScreen = overlap|fuzzy|surgery)
  *                    the arrival overlaps the [[bootstrapBench]]-indexed
  *                    benchmark corpus: `overlap` = shared 3-gram
  *                    fraction ≥ `curation.maxOverlap` (t10 semantics);
  *                    `fuzzy` = bench band collision verified at ≥
  *                    `curation.fuzzyMinJaccard` exact Jaccard (t36
  *                    semantics); `surgery` = the t39 salvage screen at
  *                    the index's 3-gram grain (the bench_state shingle
  *                    set IS the positional 3-gram vocabulary): matched
  *                    spans ±`curation.surgeryPad` are EXCISED from the
  *                    arrival before commit — rewriting the ARRIVAL, not
  *                    state — and only arrivals keeping less than
  *                    `curation.surgeryMinKeepFrac` of their tokens drop;
  *                    rewritten survivors re-fingerprint and re-check
  *                    the fp state so a replay (same batch → same
  *                    excision → same fingerprint) stays a no-op — closes
  *                    the ingest hole the batch app's stage-5 gate covers
  *                    for the initial corpus;
  *   6. `near_dup`  — any MinHash band collides with the corpus band
  *                    index (`Dedup.lshBands` on the stream side —
  *                    one codegen kernel per row, no stream-side
  *                    shuffle; the corpus side is read through
  *                    [[Buckets.lookup]], the megabucket guard of every
  *                    screen), OR with
  *                    an earlier (smaller doc_id) document of the SAME
  *                    batch — greedy first-keeps ordering, so two
  *                    near-identical docs arriving together can't both
  *                    enter the corpus;
  *   7. survivors   — appended under `<outDir>/curated/batch=<id>` and
  *                    merged into the state tables of [[Tables]]: text
  *                    fingerprints (`fps`), the text band index (`bands`)
  *                    and — when the media screens are on — the image
  *                    band index (`img_bands`) and the audio fp index
  *                    (`audio_fps`).
  *
  * Delivery contract: foreachBatch is at-least-once, so every batch's
  * state advance commits as one immutable DELTA directory
  * (`corpus_deltas/batch=<id>`, committed by [[StateSwap.swapAll]] like
  * every other state root — see [[StateSwap]] for the one protocol and
  * its recovery) whose existence is the applied marker — a replay is
  * detected and skipped, and the per-batch-id output directory is
  * overwritten, never appended, so a replayed write replaces itself. The
  * log is listed by [[StateSwap.roots]]: a commit killed before its
  * promotion leaves only side entries, which list as not committed, so
  * the replay runs again and its own commit recovers the debris first;
  * one killed after it is skipped. Every `curation.foldEvery` batches
  * the delta log folds into the compacted BASE tables under
  * `corpus_state` in a single [[StateSwap.swapAll]] (every table of
  * [[Tables]] advances together; the fold-through marker rides inside
  * the fp table), and [[StateSwap.drop]] reaps each folded delta with
  * its side entries. Per-batch write cost is therefore O(batch),
  * not O(corpus): at 100 TB a full-state rewrite per 10-second trigger
  * would be the pipeline's entire IO budget, while the delta log
  * amortizes the corpus rewrite across the fold interval (or hands it to
  * an out-of-band compactor).
  *
  * Scale shape: state lookups are semi/anti joins on content-hash keys;
  * the fp state is read through [[Buckets.touched]] and the text band,
  * image band and audio fp indices through [[Buckets.lookup]], both of
  * which broadcast the batch's distinct keys, so the state is scanned,
  * never shuffled; state updates are unions
  * of the batch's few rows with
  * the state tables, swapped atomically — no per-key RPCs, no driver
  * loops; the band index is the SAME (band, sig, doc_id) layout the
  * batch LSH uses, so bootstrap is just `Dedup.lshBands(corpus)`.
  */
object CurateStreamApp {

  /** Marker row inside the fingerprint state recording the last APPLIED
    * batch id (fp can never collide with an md5 hex digest).
    */
  private[graft] val BatchMarker = "__meta:last_applied_batch"

  /** Train the perplexity gate's bigram LM on a reference corpus and
    * persist it under `<stateDir>/lm_state` (its OWN swap root: the LM is
    * static — CCNet trains once on the reference corpus — so the
    * per-batch delta/fold cycle of `corpus_state` never rewrites it).
    * Run once before starting a `curation.qualityGate = perplexity`
    * stream; re-run to retrain (one atomic multi-table swap).
    */
  def bootstrapLm(spark: SparkSession, ref: DataFrame, stateDir: String): Unit = {
    val (cb, cu, vDf) = operators.PerplexityGate.lmFromSlice(ref)
    StateSwap.swapAll(s"$stateDir/lm_state", Seq(
      "lm_bigrams" -> cb, "lm_heads" -> cu, "lm_meta" -> vDf))
  }

  /** The bootstrapped LM tables (bigram counts, head counts, one-row
    * vocab), or None if [[bootstrapLm]] has never run for this state dir.
    */
  private[graft] def readLmState(spark: SparkSession, stateDir: String)
      : Option[(DataFrame, DataFrame, DataFrame)] =
    StateSwap.readGroup(spark, s"$stateDir/lm_state", "lm_bigrams", "lm_heads", "lm_meta")
      .map { case Seq(bigrams, heads, meta) => (bigrams, heads, meta) }

  /** Index the benchmark/eval corpus for the streaming contamination
    * screen and persist it under `<stateDir>/bench_state` (its own swap
    * root, the [[bootstrapLm]] pattern: the bench set is static between
    * releases, so the per-batch delta/fold cycle never touches it). Run
    * once before starting a `curation.contamScreen = overlap|fuzzy`
    * stream; re-run on a new benchmark release (one atomic swap).
    *
    * Tables — everything both screen modes need, precomputed so no batch
    * ever aggregates over the bench corpus:
    *   `bench_shingles` (bench_id, shingle)  distinct per-doc 3-grams
    *                    (fuzzy verify; overlap uses the shingle column)
    *   `bench_bands`    (band, sig, bench_id) MinHash band index
    *                    (fuzzy candidates — same layout as the corpus
    *                    band index, so the stream side reuses its
    *                    row-local [[Dedup.lshBands]] signatures)
    *   `bench_nsh`      (bench_id, n_b) per-doc shingle counts (fuzzy
    *                    Jaccard denominator)
    * Input needs (doc_id, text).
    */
  def bootstrapBench(spark: SparkSession, bench: DataFrame, stateDir: String,
      widths: DedupWidths = DedupWidths.default): Unit = {
    val sh = graft.functions.TextFunctions.explodedShingles(
        bench.select(col("doc_id").as("bench_id"), col("text")),
        "bench_id", "text", 3).distinct()
      .transform(Pin.truncate(_)) // feeds two tables below; shingle once
    StateSwap.swapAll(s"$stateDir/bench_state", Seq(
      "bench_shingles" -> sh,
      "bench_bands" -> Dedup.lshBands(
          bench.select(col("doc_id"), col("text")),
          widths.numPerms, widths.numBands)
        .select(col("band"), col("sig"), col("doc_id").as("bench_id")),
      "bench_nsh" -> sh.groupBy(col("bench_id")).agg(count(lit(1)).as("n_b"))))
  }

  /** Periodic state refresh for a long-running stream (the
    * `rebalanceIvfIndex` pattern at the curation state): the perplexity
    * gate's LM is bootstrap-once, so a corpus that drifts — new domains
    * admitted through the score/gopher gates, or a register shift in the
    * source — keeps being scored against the ORIGINAL reference slice's
    * register. This entry point folds any live corpus deltas (so the
    * refreshed state is compact) and retrains the LM from the
    * ACCUMULATED curated corpus's `lang = "en"` slice (CurateApp's
    * reference rule), in one atomic `lm_state` swap. Replay idempotence
    * is untouched: batch-applied markers ride the delta log, not the LM.
    *
    * The media/band indices need no refresh — they are exact incremental
    * state (every admitted row indexed at admit time), not a model.
    *
    * Run it, like [[bootstrapLm]] and [[bootstrapBench]], only while the
    * stream is STOPPED: it swaps `corpus_state` and `lm_state`, the roots
    * the stream's own batches read and recover, and a recovery deletes a
    * staging directory that has no marker yet, so a concurrent refresh
    * can lose its half-written swap. Stop the query, refresh, restart it
    * on the same checkpoint, on whatever cadence the drift budget allows:
    *
    *   CurateStreamApp.refreshState(spark, stateDir, outDir)
    */
  def refreshState(spark: SparkSession, stateDir: String, outDir: String): Unit = {
    foldDeltas(spark, stateDir)
    val curated = spark.read.parquet(s"$outDir/curated")
    bootstrapLm(spark,
      curated.filter(col("lang") === "en").select(col("doc_id"), col("text")),
      stateDir)
  }

  /** The bootstrapped benchmark index (shingles, bands, counts), or None
    * if [[bootstrapBench]] has never run for this state dir.
    */
  private[graft] def readBenchState(spark: SparkSession, stateDir: String)
      : Option[(DataFrame, DataFrame, DataFrame)] =
    StateSwap.readGroup(spark, s"$stateDir/bench_state",
        "bench_shingles", "bench_bands", "bench_nsh")
      .map { case Seq(shingles, bands, nsh) => (shingles, bands, nsh) }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.CurateStreamApp <docStreamDir> <stateDir> <outDir> [intervalSecs] [confPath]")
    val Array(docsDir, stateDir, outDir) = args.take(3)
    val interval = if (args.length > 3) args(3).toInt else 10
    val config = if (args.length > 4) GraftConfig.load(args(4)) else GraftConfig.empty
    val spark = GraftSession.build()
    val schema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val q = run(spark, stream, stateDir, outDir, interval, config)
    q.awaitTermination()
  }

  /** Wire the per-batch step onto any streaming frame (file source in
    * production, MemoryStream in tests).
    */
  def run(spark: SparkSession, stream: DataFrame, stateDir: String,
          outDir: String, intervalSecs: Int,
          config: GraftConfig = GraftConfig.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // read once, so a conf that does not parse fails before the query starts
    val curation = Curation.fromConfig(config)
    Curation.warnUnknownKeys(config)
    StreamingJobs.consumeMicroBatches(stream, intervalSecs,
        checkpointDir = Some(s"$stateDir/checkpoint")) { (batch, batchId) =>
      if (!batch.isEmpty) processBatch(spark, batch, stateDir, outDir, curation, batchId)
    }
  }

  /** One table of the corpus state: its name under `corpus_state` and
    * in a delta, and its DDL schema (the empty table a cold start reads).
    * Its state is its base ∪ every live delta that holds it.
    */
  private final case class Table(name: String, ddl: String)

  /** The corpus state's tables, in commit order. A delta holds `fps` and
    * `bands` always, the media tables only when its batch admitted media;
    * the base `fps` carries the fold-through marker row.
    */
  private val Tables = Seq(
    Table("fps", "fp string, doc_id bigint"),
    Table("bands", "band int, sig string, doc_id bigint"),
    // the m4 screen's index: phash travels with the band row, so the
    // stream-side Hamming verify needs no second lookup
    Table("img_bands", "band int, sig bigint, media_id bigint, phash bigint"),
    // the m9 screen's index: one row per DISTINCT (clip, frame fp)
    Table("audio_fps", "media_id bigint, fp bigint"))

  /** The corpus state as ONE logical view over its log-structured layout:
    * compacted BASE tables under `corpus_state` (atomically replaced by
    * [[foldDeltas]]) plus one small immutable DELTA directory per applied
    * micro-batch under `corpus_deltas/batch=<id>`, each table of
    * [[Tables]] by name. `appliedThrough` is the base's fold-through
    * batch id; `liveDeltas` the committed batch ids newer than it (stale
    * delta dirs at or below the marker are fold-then-crash debris and are
    * excluded here, dropped by the next fold). A table a delta does not
    * hold reads as empty there.
    */
  private[graft] final case class CorpusState(tables: Map[String, DataFrame],
      appliedThrough: Long, liveDeltas: Seq[Long]) {
    def fps: DataFrame = tables("fps")
    def bands: DataFrame = tables("bands")
    def imgBands: DataFrame = tables("img_bands")
    def audioFps: DataFrame = tables("audio_fps")
  }

  private def delta(stateDir: String, batchId: Long) = s"$stateDir/corpus_deltas/batch=$batchId"

  /** The delta log's batch ids, each with whether its delta is committed. */
  private def deltaIds(spark: SparkSession, stateDir: String): Map[Long, Boolean] =
    StateSwap.roots(spark, s"$stateDir/corpus_deltas").collect {
      case (s"batch=$id", committed) if id.nonEmpty && id.forall(_.isDigit) =>
        id.toLong -> committed
    }

  private[graft] def readCorpusState(spark: SparkSession, stateDir: String): CorpusState = {
    def read(root: String, t: Table) = StateSwap.readTableOrElse(spark, root, t.name,
      spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL(t.ddl)))
    val marked = Tables.map(t => t.name -> read(s"$stateDir/corpus_state", t)).toMap
    val appliedThrough = marked("fps").filter(col("fp") === BatchMarker)
      .select(col("doc_id")).collect().headOption.map(_.getLong(0)).getOrElse(-1L)
    val base = marked.updated("fps", marked("fps").filter(col("fp") =!= BatchMarker))
    val live = deltaIds(spark, stateDir)
      .collect { case (id, true) if id > appliedThrough => id }.toSeq.sorted
    CorpusState(Tables.map(t => t.name ->
        live.foldLeft(base(t.name))((s, b) => s.unionByName(read(delta(stateDir, b), t)))).toMap,
      appliedThrough, live)
  }

  /** Compact the delta log into the base tables: fold every live delta
    * into `corpus_state` (one [[StateSwap.swapAll]] of every table of
    * [[Tables]], marker = highest folded batch id), then drop the folded
    * deltas with any side entries a killed commit left beside them
    * ([[StateSwap.drop]]). A crash after the swap leaves deltas at or
    * below the marker on disk — they are ignored by [[readCorpusState]]
    * and dropped here next time. Amortizes the O(corpus) rewrite across
    * `curation.foldEvery` batches; at production scale this fold can also
    * run out-of-band.
    */
  private[graft] def foldDeltas(spark: SparkSession, stateDir: String): Unit = {
    val state = readCorpusState(spark, stateDir)
    val upTo = (state.liveDeltas :+ state.appliedThrough).max
    if (state.liveDeltas.nonEmpty) {
      val folded = state.tables.updated("fps", state.fps.unionByName(spark.range(1)
        .select(lit(BatchMarker).as("fp"), lit(upTo).as("doc_id"))))
      StateSwap.swapAll(s"$stateDir/corpus_state", Tables.map(t => t.name -> folded(t.name)))
    }
    deltaIds(spark, stateDir).keys.filter(_ <= upTo)
      .foreach(id => StateSwap.drop(spark, delta(stateDir, id)))
  }

  /** One micro-batch: screen, write survivors to
    * `<outDir>/curated/batch=<batchId>`, commit the state advance as the
    * delta `batch=<batchId>`. A batch id already applied is a no-op.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                   outDir: String, curation: Curation = Curation.default,
                   batchId: Long): Unit = {
    val pins = Pin.scope() // every pin of the batch is read only by its own writes
    try screenBatch(spark, batch, stateDir, outDir, curation, batchId, pins)
    finally pins.release()
  }

  /** First occurrence (min doc_id) per fingerprint `fp` among `docs`,
    * minus the fingerprints the corpus state already holds, looked up by
    * the batch's keys ([[Buckets.touched]]), so the fp state is scanned,
    * never shuffled. No megabucket guard: fingerprints are unique keys,
    * and `maxBucket` bounds only the band screens.
    */
  private def firstUnseen(docs: DataFrame, stateFps: DataFrame, pins: Pin.Scope): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    docs.withColumn("fp_canon", min(col("doc_id")).over(byFp))
      .filter(col("doc_id") === col("fp_canon")).drop("fp_canon")
      .join(Buckets.touched(stateFps.select(col("fp")), docs, Seq("fp"), pins),
        Seq("fp"), "left_anti")
  }

  private def screenBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      outDir: String, curation: Curation, batchId: Long, pins: Pin.Scope): Unit = {
    import curation._
    val state = readCorpusState(spark, stateDir)
    if (batchId <= state.appliedThrough || state.liveDeltas.contains(batchId)) return

    // 1. quality gate — selectable (curation.qualityGate, same modes as
    // CurateApp): score and gopher are row-local, no shuffle; perplexity
    // scores the batch against the BOOTSTRAPPED LM state ([[bootstrapLm]]
    // — CCNet's shape: the LM trains once on the reference corpus, every
    // arrival pays two gram-keyed joins whose build side is the
    // batch-sized bigram set, so the LM tables are scanned, never
    // shuffled, exactly like the band-index lookup below)
    val toks = tokens(col("text"))
    val fingered = batch.withColumn("fp", exactFingerprint(col("text")))
    val qualified = lowQuality(col("text"), toks) match {
      case Some(reject) => fingered.filter(!reject)
      case None =>
        val lm = readLmState(spark, stateDir).getOrElse(sys.error(
          s"qualityGate=perplexity but no LM state under $stateDir/lm_state — " +
            "run CurateStreamApp.bootstrapLm over the reference corpus first"))
        val scored = operators.PerplexityGate.scoreAgainstLm(
          batch.select(col("doc_id"), col("text")), lm._1, lm._2, lm._3)
        fingered.join(scored, Seq("doc_id"), "left")
          .filter(operators.PerplexityGate.keepExpr(
            coalesce(col("n_bigrams"), lit(0L)),
            coalesce(col("sum_logp_e6"), lit(0L)), perplexityMaxNllE6))
          .drop("n_bigrams", "sum_logp_e6")
    }

    // 2. exact dedup: first-in-batch occurrence keeps (window min over
    // the fingerprint), then drop anything the corpus already has
    val batchUnique = firstUnseen(qualified, state.fps, pins)

    // 3. near-dup screen: row-local band signatures against the corpus
    // band index through the guarded lookup every screen shares: the
    // batch's distinct band keys are broadcast, so the index is scanned,
    // never shuffled, and a corpus bucket holding more than maxBucket
    // docs is dropped (its members still screen via their other bands).
    // The lookup counts every index row of a key the batch carries, so
    // its count is that bucket's full size.
    // Only the MinHash widths apply here (nearDupMethod selects the BATCH
    // app's generator only); see the DedupWidths scaladoc for the
    // state-directory width-compatibility contract.
    val batchBands = Dedup.lshBands(batchUnique, widths.numPerms, widths.numBands)
    val corpusHit = batchBands
      .join(Buckets.lookup(state.bands, batchBands, Seq("band", "sig"), maxBucket, pins),
        Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
    // in-batch near-dups: a doc sharing any band bucket with an EARLIER
    // (smaller doc_id) doc of the same batch is dropped too — greedy
    // first-keeps, matching CurateApp's batch semantics for docs that
    // would have collided had they arrived a batch apart. The self-join
    // is batch-sized (tiny), no megabucket guard needed.
    val inBatchHit = batchBands
      .join(batchBands.groupBy(col("band"), col("sig")).agg(min(col("doc_id")).as("keeper")),
        Seq("band", "sig"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id")).distinct()
    val collidingText = corpusHit.unionByName(inBatchHit).distinct()

    // 3b. IMAGE near-dup screen (curation.imageScreen = phash; the m4
    // machinery stream-side): rows carrying an image payload band their
    // pHash into the same 4×16-bit signatures the batch generator uses
    // (Multimodal.imageHashBands), candidates come from the corpus image
    // band index — phash rides the index row, so the exact Hamming
    // verify happens inside the same lookup join, no second fetch — and
    // in-batch copies resolve greedy-first like the text screen. The
    // batch side is tiny (broadcast); the index is scanned, never
    // shuffled. Rows without media columns (text-only streams) skip the
    // screen entirely.
    val hasMedia = batch.columns.contains("kind") && batch.columns.contains("bytes")
    val batchImgBands: Option[DataFrame] =
      if (imageScreen == "off" || !hasMedia) None
      else Some(operators.Multimodal.imageHashBands(
        operators.Multimodal.imagePHashes(
          batchUnique.select(col("doc_id").as("media_id"), col("kind"), col("bytes"))),
        "phash").transform(pins.truncate(_))) // codec runs once, feeds 3 consumers
    val collidingImg = batchImgBands match {
      case None => collidingText
      case Some(ib) =>
        // megabucket guard (the text screen's maxBucket trade at the
        // image index): the verify join's fanout per batch image is the
        // state bucket size, so a band shared by a million near-identical
        // corpus images would detonate one lookup. Buckets.lookup counts
        // ONLY the state rows the batch's own (band, sig) keys touch and
        // drops oversized buckets before the fanout (their members still
        // screen via their other 3 bands).
        val indexed = Buckets.lookup(state.imgBands
            .withColumnRenamed("media_id", "state_id")
            .withColumnRenamed("phash", "state_ph"),
          ib, Seq("band", "sig"), maxBucket, pins)
        val imgCorpusHit = ib
          .join(indexed, Seq("band", "sig"))
          .filter(bit_count(col("__h").bitwiseXOR(col("state_ph"))) <= imageMaxHamming)
          .select(col("media_id").as("doc_id")).distinct()
        val a = ib.select(col("band"), col("sig"),
          col("media_id").as("id1"), col("__h").as("h1"))
        val imgInBatchHit = ib
          .join(a, Seq("band", "sig"))
          .filter(col("id1") < col("media_id") &&
            bit_count(col("__h").bitwiseXOR(col("h1"))) <= imageMaxHamming)
          .select(col("media_id").as("doc_id")).distinct()
        collidingText.unionByName(imgCorpusHit).unionByName(imgInBatchHit).distinct()
    }

    // 3c. AUDIO near-dup screen (curation.audioScreen = fingerprint; the
    // m9 machinery stream-side): audio rows decode once into
    // constellation frame fingerprints, an arriving clip drops when its
    // distinct-fp CONTAINMENT against any single corpus clip clears the
    // threshold (the m9 verify — re-rips may be truncated), or against
    // an earlier in-batch clip (greedy first-keeps via the m9 pair
    // generator on the batch-sized frame set). The state index is
    // (clip, distinct fp) rows, scanned via one fp equi-join.
    val batchAudioFps: Option[DataFrame] =
      if (audioScreen == "off" || !hasMedia) None
      else Some(operators.Multimodal.audioFingerprints(
          batchUnique.select(col("doc_id").as("media_id"), col("kind"), col("bytes")))
        .transform(pins.truncate(_))) // codec runs once, feeds 3 consumers
    val colliding = batchAudioFps match {
      case None => collidingImg
      case Some(af) =>
        // the all-sentinel fp (silence) is excluded exactly like the m9
        // batch operator and audioMatches — a mostly-silent arrival must
        // not reach containment 1.0 against any clip with one silent
        // frame (the state index is sentinel-free at write time below)
        val sigs = af.filter(col("fp") =!= lit(-1L))
          .select(col("media_id"), col("fp")).distinct()
        val nfp = sigs.groupBy(col("media_id")).agg(count(lit(1)).as("nfp"))
        // same touched-subset megabucket guard as the image screen, on
        // the fp key (a frame fp shared by a million corpus clips —
        // boilerplate audio — would fan the verify join out per arrival)
        val audIndexed = Buckets.lookup(state.audioFps.withColumnRenamed("media_id", "state_id"),
          sigs, Seq("fp"), maxBucket, pins)
        // containment denominator = least(nfp_arrival, nfp_state), the
        // m9/audioNearDupPairs verify: an arrival that EXTENDS a corpus
        // clip is caught too (its superset fp set contains the state
        // clip's), not just the truncated-re-rip direction. The state
        // clip's TRUE fp count comes from a second pass over the state
        // index restricted to the candidate ids (touched-subset counts
        // would undercount: they only see fps the batch also carries) —
        // the candidate set is bounded by batch fps × maxBucket, so the
        // extra pass is a scan plus a candidate-sized aggregate, never a
        // corpus shuffle. The candidates are the GUARDED subset's ids,
        // which changes no verdict: stateNfp is joined below only on the
        // state ids that survive the guard.
        val candIds = audIndexed.select(col("state_id")).distinct()
        val stateNfp = state.audioFps.withColumnRenamed("media_id", "state_id")
          .join(broadcast(candIds), Seq("state_id"), "left_semi")
          .groupBy(col("state_id")).agg(count(lit(1)).as("nfp_state"))
        val audCorpusHit = sigs
          .join(audIndexed, Seq("fp"))
          .groupBy(col("media_id"), col("state_id")).agg(count(lit(1)).as("shared"))
          .join(nfp, Seq("media_id"))
          .join(stateNfp, Seq("state_id"))
          .filter(col("shared") >=
            least(col("nfp"), col("nfp_state")) * audioMinContainment)
          .select(col("media_id").as("doc_id")).distinct()
        val audInBatchHit = operators.Multimodal
          .audioNearDupPairs(af, minContainment = audioMinContainment)
          .select(col("id2").as("doc_id")).distinct() // greedy: earlier id keeps
        collidingImg.unionByName(audCorpusHit).unionByName(audInBatchHit).distinct()
    }

    // 4. CONTAMINATION screen (curation.contamScreen = off|overlap|fuzzy)
    // — the batch app's stage-5 gate on the INGEST path: benchmark text
    // arriving through the stream must not enter the corpus, or the
    // one-time batch decontamination guarantee silently decays. The
    // benchmark index is bootstrap-once state ([[bootstrapBench]], the
    // lm_state pattern — fail loud if missing); every batch pays shingle
    // assembly on its own rows plus index scans with the batch side
    // broadcast, never an aggregation over the bench corpus.
    val (collidingAll, surgeryRewrite) = contamScreen match {
      case "off" => (colliding, None)
      case "surgery" =>
        // the t39 salvage screen on the INGEST path, pinned to the
        // index's 3-gram grain: bench_state's shingle set is exactly the
        // positional 3-gram vocabulary, so the bootstrap-once index is
        // reused verbatim (no per-batch benchmark re-explode) and the
        // match runs on literal grams (hashFps = false — the index
        // stores strings). Excision rewrites the ARRIVAL before commit;
        // state is never rewritten.
        val (benchSh, _, _) = readBenchState(spark, stateDir)
          .getOrElse(sys.error(
            s"contamScreen=surgery but no bench state under " +
              s"$stateDir/bench_state — run CurateStreamApp.bootstrapBench " +
              "over the benchmark corpus first"))
        val surg = operators.Decontaminate.surgerySpansAgainst(
            batchUnique.select(col("doc_id"), col("text")),
            benchSh.select(col("shingle").as("fp")).distinct(),
            nGram = 3,
            pad = surgeryPad,
            hashFps = false)
          .filter(col("n_hits") > 0) // untouched arrivals never join back
          .transform(pins.truncate(_))     // feeds the drop set AND the rewrite
        val dropped = surg.filter(col("kept_frac") < surgeryMinKeepFrac)
          .select(col("doc_id"))
        (colliding.unionByName(dropped).distinct(),
          Some(surg.filter(col("kept_frac") >= surgeryMinKeepFrac)
            .select(col("doc_id"), col("cleaned_text"))))
      case mode @ ("overlap" | "fuzzy") =>
        val (benchSh, benchBands, benchNsh) = readBenchState(spark, stateDir)
          .getOrElse(sys.error(
            s"contamScreen=$mode but no bench state under " +
              s"$stateDir/bench_state — run CurateStreamApp.bootstrapBench " +
              "over the benchmark corpus first"))
        val arrSh = graft.functions.TextFunctions.explodedShingles(
            batchUnique.select(col("doc_id"), col("text")), "doc_id", "text", 3)
          .distinct().transform(pins.truncate(_)) // read twice: totals + hits/verify
        val contamHit =
          if (mode == "overlap") {
            // t10/CurateApp-overlap semantics against the prebuilt bench
            // shingle set — the recall-leaning screen (any shared-fragment
            // mass counts toward the doc's overlap fraction)
            val hits = benchSh.select(col("shingle")).distinct()
              .join(broadcast(arrSh), Seq("shingle"))
              .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
            arrSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
              .join(hits, Seq("doc_id"))
              .filter(col("n_overlap") >= col("n_sh") * maxOverlap)
              .select(col("doc_id"))
          } else {
            // t36/Decontaminate semantics: band collisions against the
            // prebuilt bench band index (touched-subset megabucket guard,
            // the media screens' trade), then exact-Jaccard verify against
            // the prebuilt per-doc bench shingle sets — precision-leaning
            // (flags near-clones of benchmark docs, not common fragments)
            val pairs = batchBands
              .join(Buckets.lookup(benchBands, batchBands, Seq("band", "sig"), maxBucket, pins),
                Seq("band", "sig"))
              .select(col("doc_id"), col("bench_id")).distinct()
              .transform(pins.truncate(_)) // read 3×: verify, nT prune, final join
            val bshCand = benchSh
              .join(broadcast(pairs.select(col("bench_id")).distinct()),
                Seq("bench_id"), "left_semi")
            val shared = pairs
              .join(arrSh, Seq("doc_id"))
              .join(bshCand, Seq("bench_id", "shingle"))
              .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("sh_n"))
            val nT = arrSh
              .join(pairs.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
              .groupBy(col("doc_id")).agg(count(lit(1)).as("n_t"))
            // jac ≥ J as the cross-multiplied inequality (no division)
            pairs.join(shared, Seq("doc_id", "bench_id"), "left")
              .join(nT, Seq("doc_id"))
              .join(benchNsh, Seq("bench_id"))
              .filter(coalesce(col("sh_n"), lit(0L)).cast("double") >=
                (col("n_t") + col("n_b") - coalesce(col("sh_n"), lit(0L)))
                  * fuzzyMinJaccard)
              .select(col("doc_id")).distinct()
          }
        (colliding.unionByName(contamHit).distinct(), None)
    }
    // materialized EAGERLY: the survivor plan reads all three state
    // tables and feeds three consumers (curated write, fp merge, band
    // merge) — one pin avoids re-running the quality gate and
    // dedup joins per consumer, and keeps the staged state writes from
    // racing the root promotion below
    val survivors0 = batchUnique.join(collidingAll, Seq("doc_id"), "left_anti")
    val survivors = (surgeryRewrite match {
      case None => survivors0
      case Some(rw) =>
        // surgery commit: excised arrivals enter the corpus under their
        // CLEANED text — fingerprint and n_chars recompute to track the
        // committed bytes, and the new fingerprint re-checks the fp
        // state (one extra anti scan, surgery batches only) so a replay
        // of an already-committed excised doc is still an exact-dup no-op
        val rewritten0 = survivors0.join(rw, Seq("doc_id"), "left")
          .withColumn("text", coalesce(col("cleaned_text"), col("text")))
          .withColumn("fp",
            when(col("cleaned_text").isNotNull, exactFingerprint(col("text")))
              .otherwise(col("fp")))
        val rewritten =
          (if (survivors0.columns.contains("n_chars"))
            rewritten0.withColumn("n_chars",
              when(col("cleaned_text").isNotNull, length(col("text")).cast("long"))
                .otherwise(col("n_chars")))
          else rewritten0)
          .drop("cleaned_text")
        // two arrivals whose texts differ only inside excised spans
        // converge on one cleaned fingerprint — first-keeps again on the
        // REWRITTEN fp (batch-sized window), then the state re-check
        firstUnseen(rewritten, state.fps, pins)
    }).transform(pins.truncate(_))

    survivors.drop("fp").write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/curated/batch=$batchId")

    // state advance: the batch's survivors only. Image bands re-key the
    // precomputed batch index on the survivor set — no second decode.
    val survivorBands = Dedup.lshBands(survivors.select(col("doc_id"), col("text")),
      widths.numPerms, widths.numBands)
    val survivorImgBands = batchImgBands.map(_
      .join(survivors.select(col("doc_id").as("media_id")), Seq("media_id"), "left_semi")
      .select(col("band"), col("sig"), col("media_id"), col("__h").as("phash")))
    val survivorAudioFps = batchAudioFps.map(_
      .filter(col("fp") =!= lit(-1L)) // index stays sentinel-free (m9 parity)
      .select(col("media_id"), col("fp")).distinct()
      .join(survivors.select(col("doc_id").as("media_id")), Seq("media_id"), "left_semi"))
    // O(batch) commit: one immutable delta directory, one atomic swap —
    // per-batch cost is independent of corpus size, unlike a full-state
    // swap, which at 100 TB would rewrite the entire index every
    // 10-second trigger. The base rewrite happens once per `foldEvery`
    // batches instead. Deltas are batch-sized: one file per table keeps
    // the pre-fold file count at 2-4 per batch (the media tables only
    // when the batch admitted media).
    val advance = Map("fps" -> survivors.select(col("fp"), col("doc_id")),
      "bands" -> survivorBands) ++
      survivorImgBands.map("img_bands" -> _) ++ survivorAudioFps.map("audio_fps" -> _)
    StateSwap.swapAll(delta(stateDir, batchId),
      Tables.flatMap(t => advance.get(t.name).map(t.name -> _.coalesce(1))))
    if (state.liveDeltas.size + 1 >= foldEvery) foldDeltas(spark, stateDir)
  }
}
