package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fuzzy benchmark decontamination — the verify-before-delete screen
  * shared by the `t36_near_decontaminate` query and the curation apps'
  * `curation.contamGate = fuzzy` mode (the PerplexityGate pattern):
  * candidates come from train×bench MinHash band collisions (paraphrased
  * benchmark text shares few EXACT shingle hits but still collides in
  * band space), and every candidate pair is verified with exact 3-gram
  * Jaccard before a training doc is flagged — precision matters when the
  * verdict deletes training data.
  *
  * Plan discipline: the pair set and both shingle frames are each read
  * by 2+ consumers, and Catalyst re-evaluates a subtree per reference —
  * unpinned, the band join and the two shingle explodes re-ran per
  * consumer (measured 17 scans / 16 windows). [[Pin.truncate]] pins each
  * after one evaluation.
  *
  * Join strategies are gated on MEASURED row counts, not hints or
  * optimizer estimates. The pair set and per-doc shingle counts are
  * CANDIDATE-bounded, not domain-bounded — in a template-heavy corpus
  * (exact clone groups sharing band signatures) they are O(train), and
  * the pre-r12 unconditional `broadcast(pairs)`/`broadcast(nT)` hints
  * detonate the driver there. Estimates don't save you either: a
  * measured 7.4M-row checkpointed shingle frame carried a 3.2 MB
  * optimizer estimate (LogicalRDD stats derive from upstream
  * distinct-shrink guesses, not from the materialized blocks), so
  * Catalyst statically broadcast it and OOM'd a small driver. Since
  * every frame here is eagerly checkpointed, exact counts are one cheap
  * job each — frames at or under [[BroadcastRowCap]] are explicitly
  * broadcast (the sf0.01/sf0.1 regime, and the t36 plan golden), frames
  * above it carry a merge hint so no mis-estimated side can ever be
  * planned as a build side. All joins are equi-joins on
  * `doc_id`/`bench_id`, so nothing requires a broadcast to be correct.
  */
object Decontaminate {

  /** Measured-rows threshold between "provably broadcastable" and
    * "force a shuffled join": the [[Dedup.BroadcastIndexRowCap]] trade
    * (2^18 rows of ids/counts ≈ a few MB serialized).
    */
  val BroadcastRowCap: Long = 1L << 18

  /** Degenerate-band-bucket guard, same trade as
    * [[Dedup.lshCandidatePairs]]'s `maxBucket`: a (band, sig) bucket
    * holding kT train docs and kB bench docs expands to kT·kB candidate
    * pairs, so one boilerplate signature shared corpus-wide would own
    * the runtime (and the pair set's memory). Buckets past the cap on
    * EITHER side are dropped — their members still collide in their
    * other bands unless the text is pathologically common, in which
    * case the exact-overlap gate (t10 semantics) is the right screen.
    */
  val MaxBucket = 10000

  /** Span-surgery decontamination — the salvage alternative to the
    * flag-and-drop gates (t10 exact overlap, [[fuzzyScores]]): instead
    * of deleting a whole training document because one benchmark
    * passage leaked into it, excise a `pad`-token window around every
    * matched `nGram`-gram and KEEP the rest (the GPT-3 appendix-C
    * treatment). At 100 TB the difference is material: a contaminated
    * 50k-token document usually carries a ≤100-token quote, and
    * flag-and-drop throws away 99.8% clean text.
    *
    * Shape, stage by stage — nothing here is pairwise:
    *  1. bench n-gram fingerprint set: row-local HOF (`transform` over
    *     `sequence`) — every position's md5 inside the row, one
    *     `distinct` exchange. DOMAIN-bounded (the benchmark corpus), so
    *     AQE broadcasts it at any realistic bench size; no explicit
    *     hint (the [[fuzzyScores]] lesson — hints bypass size checks).
    *  2. train hit positions: the same row-local fingerprint explode,
    *     LEFT SEMI against the bench set — linear in train tokens.
    *  3. span union: classic gaps-and-islands over a doc-keyed window
    *     (running max of interval end; partition size is bounded by the
    *     doc's own hit count, so no skew beyond document length).
    *  4. cleaned text: row-local `filter`/`exists`/`transform` over the
    *     merged span array — no shuffle; docs with no hits never enter
    *     the window or the HOF rebuild.
    * Token grain is [[graft.functions.TextFunctions.tokens]]; the
    * cleaned text is the kept tokens re-joined by single spaces (the
    * t29 normalization).
    *
    * Returns one row per `train` doc: (doc_id, n_tokens, n_hits,
    * n_spans_removed, removed_tokens, kept_frac, cleaned_text).
    *
    * `hashFps` keys the match on xxhash64 of each n-gram (8 bytes
    * hashed, shuffled and probed) instead of the literal string — the
    * [[Dedup.exactSubstringSpans]] `hashGrams` trade: a cross-set
    * 64-bit collision (p ≈ n²/2⁶⁵, ~10⁻⁷ at 10⁷ distinct grams) would
    * excise one spurious span; the literal path exists for the parity
    * spec and for callers that cannot tolerate that epsilon.
    */
  def surgerySpans(train: DataFrame, bench: DataFrame,
      nGram: Int = 5, pad: Int = 5, hashFps: Boolean = true): DataFrame =
    surgerySpansAgainst(train,
      posFps(withToks(bench), nGram, hashFps).select(col("fp")).distinct(),
      nGram, pad, hashFps)

  private def withToks(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    .withColumn("n", size(col("toks")).cast("long"))

  private def posFps(docs: DataFrame, nGram: Int, hashFps: Boolean): DataFrame =
    docs
      .filter(size(col("toks")) >= nGram)
      .select(col("doc_id"), col("n"),
        explode(transform(sequence(lit(0), size(col("toks")) - nGram),
          p => {
            val gram = concat_ws(" ", slice(col("toks"), p + 1, lit(nGram)))
            struct(p.cast("long").as("p"),
              (if (hashFps) xxhash64(gram) else gram).as("fp"))
          })).as("h"))
      .select(col("doc_id"), col("n"), col("h.p").as("p"), col("h.fp").as("fp"))

  /** [[surgerySpans]] against a PREBUILT benchmark n-gram set (one `fp`
    * column — literal grams when `hashFps = false`, xxhash64 keys when
    * true): what lets the streaming ingest screen reuse the
    * bootstrap-once `bench_state` 3-gram shingle index instead of
    * re-exploding the benchmark corpus every 10-second batch.
    */
  def surgerySpansAgainst(train: DataFrame, benchFps: DataFrame,
      nGram: Int, pad: Int, hashFps: Boolean = true): DataFrame = {
    val toksT = withToks(train)
    // pinned: `hits` feeds both the per-doc count and the span union, and
    // Catalyst re-evaluates the subtree per consumer — unpinned, the
    // bench-fp distinct and the train position explode each ran twice
    // (5 parquet scans; the t36 lesson). Hit positions are three longs a
    // row and match-bounded — cheap to materialize.
    val hits = posFps(toksT, nGram, hashFps).join(benchFps, Seq("fp"), "left_semi")
      .transform(Pin.truncate(_))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s0"), col("e0"))
    val prevMax = max(col("e0")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = hits
      .select(col("doc_id"),
        greatest(col("p") - pad, lit(0L)).as("s0"),
        least(col("p") + nGram + pad, col("n")).as("e0"))
      .withColumn("ni", when(prevMax.isNull || col("s0") > prevMax, 1L).otherwise(0L))
      .withColumn("isl",
        sum(col("ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s0")).as("s"), max(col("e0")).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_removed"),
        sum(col("e") - col("s")).as("removed_tokens"),
        array_sort(collect_list(struct(col("s"), col("e")))).as("spans"))
    val nHits = hits.groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    // kept tokens by index, inside the row; `when` keeps the HOF off the
    // (common) no-hit path entirely
    val keptIdx = filter(sequence(lit(0L), col("n") - 1),
      i => !exists(col("spans"),
        sp => i >= sp.getField("s") && i < sp.getField("e")))
    val rebuilt = concat_ws(" ",
      transform(keptIdx, i => element_at(col("toks"), (i + 1).cast("int"))))
    toksT
      .join(nHits, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        when(col("n") > 0,
          round((col("n") - coalesce(col("removed_tokens"), lit(0L)))
            / col("n").cast("double"), 6)).otherwise(lit(1.0)).as("kept_frac"),
        when(col("n_hits").isNull || col("n") === 0,
            concat_ws(" ", col("toks")))
          .otherwise(rebuilt).as("cleaned_text"))
  }

  /** (doc_id, n_bench_candidates, max_jaccard) for every `train` doc
    * with ≥1 band-collision candidate against `bench`; docs with no
    * candidate are absent (callers default them to (0, 0.0)). Both
    * inputs need (doc_id, text).
    */
  def fuzzyScores(train: DataFrame, bench: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    // bucket sizes via a window over the SAME (band, sig) key the join
    // shuffles on (the lshCandidatePairs shape — the exchange is shared,
    // and oversized buckets drop BEFORE the pair fanout materializes)
    val byBucket = Window.partitionBy(col("band"), col("sig"))
    def guarded(bands: DataFrame): DataFrame = bands
      .withColumn("bsz", count(lit(1)).over(byBucket))
      .filter(col("bsz") <= maxBucket).drop("bsz")
    val pairs = guarded(Dedup.lshBands(train))
      .join(guarded(Dedup.lshBands(bench))
        .select(col("band"), col("sig"), col("doc_id").as("bench_id")),
        Seq("band", "sig"))
      .select(col("doc_id"), col("bench_id")).distinct()
      .transform(Pin.truncate(_))
    // one aggregate over the materialized pair RDD measures every gate
    // input: pair count + per-side candidate-doc counts (also the nT/nB
    // row counts — one row per candidate doc)
    val m = pairs.agg(count(lit(1)), count_distinct(col("doc_id")),
      count_distinct(col("bench_id"))).head
    val (nPairs, nDocT, nDocB) = (m.getLong(0), m.getLong(1), m.getLong(2))
    // measured gate: provably-small frames broadcast, everything else is
    // pinned to a shuffled merge join so a mis-ESTIMATED frame can never
    // be chosen as a broadcast/build side (see the object doc)
    def gate(df: DataFrame, rows: Long): DataFrame =
      if (rows <= BroadcastRowCap) broadcast(df) else df.hint("merge")
    // BOTH sides' candidate shingle sets in ONE explode+distinct pass
    // (r12): the per-side form paid two window exchanges, two distinct
    // exchanges, two eager checkpoints and two count jobs over frames
    // that differ only in which docs they prune to; a side-tagged union
    // shares all of it, and the per-side row counts the verify gates
    // need come from one grouped aggregate over the pinned blocks
    // instead of two count() jobs. The doc key is a (is_train, id)
    // STRUCT, not the bare id — the operator contract does not promise
    // the two inputs' id spaces are disjoint, and the side tag keeps a
    // colliding train/bench doc_id's shingles separate through the
    // shared distinct() and correctly routed by the sid.is_train
    // filters below.
    val sides = train
      .join(gate(pairs.select(col("doc_id")).distinct(), nDocT),
        Seq("doc_id"), "left_semi")
      .select(struct(lit(true).as("is_train"), col("doc_id").as("id")).as("sid"),
        col("text"))
      .unionByName(bench
        .join(gate(pairs.select(col("bench_id").as("doc_id")).distinct(), nDocB),
          Seq("doc_id"), "left_semi")
        .select(struct(lit(false).as("is_train"), col("doc_id").as("id")).as("sid"),
          col("text")))
    // per-(side, doc) distinct computed row-locally (r13, the
    // explodedDistinctShingles rationale): the struct id rides every
    // row, so the old global distinct only deduped within a document —
    // array_distinct inside the row emits the same row set without the
    // (sid, shingle) exchange, and the checkpoint pins the same blocks.
    // Its unique-(id, text)-rows precondition is not promised here: a
    // doc_id repeated within one side counts its shingles once per row in
    // shCounts and n_t/n_b
    val allSh = graft.functions.TextFunctions.explodedDistinctShingles(
        sides, "sid", "text", 3)
      .transform(Pin.truncate(_))
    val shCounts = allSh.groupBy(col("sid.is_train")).agg(count(lit(1)))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val tSh = allSh.filter(col("sid.is_train"))
      .select(col("sid.id").as("doc_id"), col("shingle"))
    val bSh = allSh.filter(!col("sid.is_train"))
      .select(col("sid.id").as("bench_id"), col("shingle"))
    val nT = tSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_t"))
    val nB = bSh.groupBy(col("bench_id")).agg(count(lit(1)).as("n_b"))
    // the shingle frames' measured sizes gate the verify join the same
    // way (per-side rows of the one pinned frame, measured above)
    val shared = gate(pairs, nPairs)
      .join(gate(tSh, shCounts.getOrElse(true, 0L)), Seq("doc_id"))
      .join(gate(bSh, shCounts.getOrElse(false, 0L)), Seq("bench_id", "shingle"))
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("sh_n"))
    gate(pairs, nPairs)
      .join(shared, Seq("doc_id", "bench_id"), "left")
      .join(gate(nT, nDocT), Seq("doc_id"))
      .join(gate(nB, nDocB), Seq("bench_id"))
      .select(col("doc_id"),
        round(coalesce(col("sh_n"), lit(0L)) /
          (col("n_t") + col("n_b") - coalesce(col("sh_n"), lit(0L))).cast("double"), 6)
          .as("jac"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_candidates"), max(col("jac")).as("max_jaccard"))
  }
}
