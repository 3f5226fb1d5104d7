package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Catalog
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, Multimodal, Pin, SimilaritySearch}

/** Training-data-pipeline operators (dedup / similarity search / text
  * analysis / multimodal) over the `documents` and `embeddings` fixtures,
  * each with a DuckDB oracle where SQL can express it.
  *
  * Portability conventions (shared with the oracles):
  *   - tokens = whitespace split, empties dropped;
  *   - all content hashes are md5 hex strings;
  *   - all "randomness" (minhash perms, hyperplanes) derives from md5 via
  *     ascii/bit arithmetic both engines compute identically;
  *   - similarities are double-promoted per element, summed left-to-right,
  *     rounded to 6 dp before any ordering.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Learned BPE merge tables per fixture dir (t32): the learn loop is a
    * bounded (≤12-row) driver collect, but it EXECUTES 12 Spark jobs —
    * at DataFrame-construction time, since t30's codegen replace chain
    * needs the merges to build the plan. Plan-enumeration suites
    * (PlanDisciplineSpec instantiates every query just to inspect its
    * plan) would otherwise re-run the whole learn per enumeration; the
    * corpus is immutable per dir, so the table is memoized on the dir.
    */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def learnedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeCache.computeIfAbsent(dir, _ =>
      graft.operators.BpeLearn.learnMerges(
          graft.operators.BpeLearn.wordFrequencies(Catalog.documents(s, dir), "text"),
          nMerges = 12)
        .orderBy(col("rank")).select(col("lhs"), col("rhs"))
        .collect().toSeq.map(r => (r.getString(0), r.getString(1))))

  val queries: Map[String, Q] = Map(
    // D1: exact dedup — canonical doc per normalized-text fingerprint.
    "d1_exact_dedup" -> ((s, dir) => {
      Catalog.documents(s, dir)
        .groupBy(exactFingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_doc"), count(lit(1)).as("n_copies"))
        .orderBy(col("canonical_doc"))
    }),

    // D2: MinHash+LSH near-dup candidate pairs (shingle→minhash→band→
    // bucket-join; the shuffle key is the band signature, never O(n²)).
    "d2_minhash_lsh" -> ((s, dir) => {
      Dedup.lshCandidatePairs(Catalog.documents(s, dir))
        .orderBy(col("doc1"), col("doc2"))
    }),

    // D24: LSH recall/precision AUDIT — the measurement that tunes the
    // dedup dials (numPerms/numBands) before anyone trusts a candidate
    // generator on 100 TB: on a deterministic 30% hash stratum, exact
    // discriminative-shingle Jaccard pairs (the d4 shared-shingle shape
    // — never all-pairs; shingles with sample doc-frequency > 1000 are
    // excluded from BOTH counts and intersections, the standard hot-key
    // trade) are compared against the banding's candidate set at three
    // tau rungs. One row per tau: how many true pairs exist, how many
    // candidates the bands emitted, how many true pairs they caught.
    // The audit is SAMPLE-bounded by contract (the v11 recall-eval
    // precedent): production sizes the stratum by count, not fraction.
    "d24_lsh_recall" -> ((s, dir) => {
      val sample = Catalog.documents(s, dir)
        .filter(sampleBucket(col("doc_id")) < 30)
      val sh0 = explodedDistinctShingles(
        sample.select(col("doc_id"), col("text")), "doc_id", "text", 3)
      // pinned: the shingle frame feeds df, counts and the pair join
      val sh = sh0.join(
          sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
            .filter(col("df") <= 1000).select(col("shingle")),
          Seq("shingle"), "left_semi")
        .transform(Pin.truncate(_))
      val nsh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val exact = sh.select(col("doc_id").as("doc1"), col("shingle"))
        .join(sh.select(col("doc_id").as("doc2"), col("shingle")), Seq("shingle"))
        .filter(col("doc1") < col("doc2"))
        .groupBy(col("doc1"), col("doc2")).agg(count(lit(1)).as("i"))
        .join(nsh.select(col("doc_id").as("doc1"), col("n").as("n1")), Seq("doc1"))
        .join(nsh.select(col("doc_id").as("doc2"), col("n").as("n2")), Seq("doc2"))
        .select(col("doc1"), col("doc2"),
          round(col("i") / (col("n1") + col("n2") - col("i")).cast("double"), 6)
            .as("jac"))
        .transform(Pin.truncate(_)) // feeds the per-tau counts and the candidate join
      val candJac = Dedup.lshCandidatePairs(sample)
        .select(col("doc1"), col("doc2"))
        .join(exact, Seq("doc1", "doc2"), "left")
        .select(coalesce(col("jac"), lit(0.0)).as("jac"))
      def tauCols(df: DataFrame, prefix: String) = df.agg(
        count(lit(1)).as(s"${prefix}_all"),
        sum(when(col("jac") >= 0.3, 1L).otherwise(0L)).as(s"${prefix}03"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as(s"${prefix}05"),
        sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).as(s"${prefix}07"))
      // two one-row aggregates; the crossJoin is the a9 one-row-stats shape
      val one = tauCols(exact, "t").crossJoin(tauCols(candJac, "h"))
      def rung(tau: Double, t: String, h: String) = one.select(
        lit(tau).as("tau"), col(t).as("n_true"),
        col("h_all").as("n_candidates"), col(h).as("n_hit"))
      rung(0.3, "t03", "h03")
        .unionByName(rung(0.5, "t05", "h05"))
        .unionByName(rung(0.7, "t07", "h07"))
        .select(col("tau"), col("n_true"), col("n_candidates"), col("n_hit"),
          when(col("n_true") > 0,
            round(col("n_hit") / col("n_true").cast("double"), 6))
            .otherwise(lit(1.0)).as("recall"),
          when(col("n_candidates") > 0,
            round(col("n_hit") / col("n_candidates").cast("double"), 6))
            .otherwise(lit(1.0)).as("precision"))
        .orderBy(col("tau"))
    }),

    // D3: 32-bit SimHash signature per document (the compiled row-local
    // SimhashSig kernel of Dedup.simhashOf).
    "d3_simhash" -> ((s, dir) => {
      Dedup.simhashOf(Catalog.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("sh").as("simhash"),
          pmod(col("sh"), lit(256L)).as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // D2V: d2 at the PRODUCTION signature width — 128 permutations in
    // 32 bands of 4 rows (P(candidate) = 1−(1−j⁴)³², the ~0.58-Jaccard
    // knee real curation runs band for, vs the fixture-friendly 12/3).
    // Same operator, same plan shape — the widths are arguments now
    // (Dedup.permsFor extends the permutation table deterministically),
    // so recall/precision is a caller dial, not an engine edit. The
    // oracle inlines the identical 128 computed (a,b) constants.
    "d2v_minhash128" -> ((s, dir) => {
      Dedup.lshCandidatePairs(Catalog.documents(s, dir), numPerms = 128, numBands = 32)
        .orderBy(col("doc1"), col("doc2"))
    }),

    // D3V: d3 at the production 64-bit width (Manku WWW'07). Bit 63 is
    // the long's sign bit — exact two's-complement parity with the
    // oracle — so the bucket uses a sign-safe AND mask, never `%`.
    "d3v_simhash64" -> ((s, dir) => {
      Dedup.simhashOf(Catalog.documents(s, dir), "doc_id", "text", bits = 64)
        .select(col("doc_id"), col("sh").as("simhash64"),
          col("sh").bitwiseAND(lit(255L)).as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // D6: SimHash-banded near-dup candidates — docs sharing the low 4
    // simhash bits pair up, exact Hamming ≤ 10 filters (the SimHash
    // counterpart of the MinHash pipeline in d2/d4).
    // No ORDER BY: the pair SET is the contract, and the gate's compare
    // is row-order-independent (it sorts both sides) — while a global
    // sort of the ~10^8-pair output (108.6M rows at the natural 10×
    // fixture) was the query's single largest shuffle (~1.6 GB), a pure
    // harness artifact no 100 TB dedup run would pay.
    "d6_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashCandidatePairs(Catalog.documents(s, dir), bucketBits = 4, maxHamming = 10)
    }),

    // D12: the production (collapsed) form of d6 — near-dup pairs at
    // clone-group level with multiplicities, clone-count-independent
    // output. Expanding through group membership reproduces d6 exactly
    // (parity spec); this is the contract a 100 TB dedup run wants.
    "d12_simhash_repdup" -> ((s, dir) => {
      // unordered pair-set contract, same rationale as d6
      Dedup.simhashRepPairs(Catalog.documents(s, dir), bucketBits = 4, maxHamming = 10)
    }),

    // D13: sorted-neighborhood SimHash candidates (Manku WWW'07 shape) —
    // the cap-free, quadratic-free candidate generator: 8 nibble-rotated
    // sort orders, each doc paired with its 6 sort successors, exact
    // Hamming filter. O(n log n) per rotation at any corpus density;
    // this is the generator a 100 TB near-dup pass uses where d6's
    // fixed-bucket banding turns quadratic (measured 28x at 10x data).
    "d13_simhash_sorted" -> ((s, dir) => {
      Dedup.simhashSortedNeighborPairs(Catalog.documents(s, dir), maxHamming = 10)
        .orderBy(col("doc1"), col("doc2"), col("hamming"))
    }),

    // D13V: d13 at the PRODUCTION 64-bit signature width (Manku's own
    // setting) — 16 nibble-rotated sort orders over the full signed-64
    // signature. The nibble gather masks to 4 bits immediately, so
    // arithmetic vs logical shift is indistinguishable and the oracle's
    // signed `>>` reproduces Spark's shiftrightunsigned gather exactly;
    // block split and sort order are signed in BOTH engines (one extra
    // block boundary at the sign flip). maxHamming scales with the
    // width (10/32 → 20/64 keeps the same fractional radius).
    "d13v_simhash64_sorted" -> ((s, dir) => {
      Dedup.simhashSortedNeighborPairs(Catalog.documents(s, dir),
          maxHamming = 20, bits = 64)
        .orderBy(col("doc1"), col("doc2"), col("hamming"))
    }),

    // C6: split-leakage audit — near-dup candidate pairs that CROSS a
    // deterministic train/eval split (content-hash bucket ≥ 80 = eval).
    // THE training-data integrity check: eval contamination via
    // near-duplicates of training docs, surfaced as one bucketed LSH
    // join + two split lookups — no pairwise scan of train × eval.
    "c6_split_leakage" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      val split = docs.select(col("doc_id"), (sampleBucket(col("doc_id")) >= 80).as("is_eval"))
      Dedup.lshCandidatePairs(docs).select(col("doc1"), col("doc2"))
        .join(split.select(col("doc_id").as("doc1"), col("is_eval").as("e1")), Seq("doc1"))
        .join(split.select(col("doc_id").as("doc2"), col("is_eval").as("e2")), Seq("doc2"))
        .filter(col("e1") =!= col("e2"))
        .select(
          when(col("e1"), col("doc2")).otherwise(col("doc1")).as("train_doc"),
          when(col("e1"), col("doc1")).otherwise(col("doc2")).as("eval_doc"))
        .orderBy(col("train_doc"), col("eval_doc"))
    }),

    // D4: n-gram Jaccard verification of the LSH candidates — the full
    // near-dup pipeline (candidates ≥ 0.8 exact trigram Jaccard).
    "d4_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Catalog.documents(s, dir), 0.8)
        .orderBy(col("doc1"), col("doc2"))
    }),

    // D5: embedding-cosine near-dup pairs (brute-force exact variant;
    // the LSH-bucketed scale path is v2/nearDupPairs with nPlanes>0).
    // D5: the SHIPPED near-dup path is the multi-table LSH-bucketed one
    // (bucket-key shuffle, never all-pairs); the nPlanes=0 brute-force
    // branch survives only as the recall baseline in PipelineSpec.
    "d5_embedding_neardup" -> ((s, dir) => {
      SimilaritySearch.nearDupPairs(Catalog.embeddings(s, dir), 0.35,
          nPlanes = 4, dim = 64, nTables = 3)
        .orderBy(col("id1"), col("id2"))
    }),

    // D14: the production (adaptive-plane) form of d5 — plane count grows
    // with the corpus so expected bucket size stays ~128 and the bucket
    // self-join is O(n·bucket) instead of O(n²/2^p). At ≤2k vectors the
    // chosen p is 4, making this bit-identical to d5; at 100k vectors it
    // picks p=10 (1024 buckets/table). Unordered pair-set contract, same
    // rationale as d6/d12.
    "d14_embedding_neardup_scaled" -> ((s, dir) => {
      SimilaritySearch.nearDupPairsAdaptive(Catalog.embeddings(s, dir), 0.35,
          dim = 64, targetBucket = 128, nTables = 3)
    }),

    // T24: DSIR importance weights (Xie et al. 2023, "Data selection
    // for language models via importance resampling"): score every
    // training document by how target-like its hashed-bigram profile is
    // — log w(doc) = Σ_features [ln p_target(b) − ln p_raw(b)] over
    // B=1024 hashed buckets with add-one smoothing, target = the bench
    // split, raw = the rest. Shapes: two O(B) frequency tables (window
    // totals over the 1024-row bucket frame, no crossJoin), broadcast-
    // joined onto the exploded features, one per-doc sum — linear, no
    // driver collect. Determinism: each bucket's log-ratio is rounded
    // to FIXED-POINT 1e-6 first (BIGINT), so the per-doc sum is an
    // exact integer in any summation order and hash-matches DuckDB
    // (the raw double sum would be order-sensitive).
    "t24_dsir_weights" -> ((s, dir) => {
      val B = 1024
      val bi = graft.functions.TextFunctions
        .explodedShingles(Catalog.documents(s, dir), "doc_id", "text", 2)
        .select(col("doc_id"),
          when(col("doc_id") % 50 === 0, "bench").otherwise("train").as("side"),
          pmod(Dedup.contentHash(col("shingle")), lit(B.toLong)).as("b"))
      val tc = bi.filter(col("side") === "bench").groupBy("b")
        .agg(count(lit(1)).as("ct"))
      val sc = bi.filter(col("side") === "train").groupBy("b")
        .agg(count(lit(1)).as("cs"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      val ratios = tc.join(sc, Seq("b"), "full_outer")
        .select(col("b"),
          coalesce(col("ct"), lit(0L)).as("ct"),
          coalesce(col("cs"), lit(0L)).as("cs"))
        .withColumn("tot_t", sum(col("ct")).over(wAll))
        .withColumn("tot_s", sum(col("cs")).over(wAll))
        .select(col("b"),
          round((log((col("ct") + 1).cast("double") / (col("tot_t") + B)) -
                 log((col("cs") + 1).cast("double") / (col("tot_s") + B))) * 1e6, 0)
            .cast("long").as("lr_e6"))
      val scored = bi.filter(col("side") === "train")
        .join(broadcast(ratios), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(col("lr_e6")).as("log_weight_e6"))
      Catalog.documents(s, dir)
        .filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_feats"), lit(0L)).as("n_feats"),
          coalesce(col("log_weight_e6"), lit(0L)).as("log_weight_e6"))
        .orderBy(col("doc_id"))
    }),

    // T23: KMV/theta-sketch corpus-overlap estimation — the mergeable
    // sketch HLL can't provide: set INTERSECTION. Each side (benchmark =
    // every 50th doc, training = the rest, the t10 split) keeps only its
    // k=256 smallest distinct shingle hashes (MinKAggregator — O(k)
    // state per side at any corpus size); θ = min of the two kth values
    // and |A∩B| ≈ |{h ∈ K_A∩K_B : h < θ}|·M/θ in exact BIGINT
    // arithmetic, so the estimate (not just the sketch) hash-matches
    // DuckDB. The output row carries the exact distinct intersection
    // alongside for a self-documenting accuracy check. The crossJoins
    // assemble ONE-ROW frames (a9_znorm precedent, PlanDiscipline
    // allowlisted).
    "t23_kmv_overlap" -> ((s, dir) => {
      val k = 256
      val sh = graft.functions.TextFunctions
        .explodedShingles(Catalog.documents(s, dir), "doc_id", "text", 3)
        .select(
          when(col("doc_id") % 50 === 0, "bench").otherwise("train").as("side"),
          Dedup.contentHash(col("shingle")).as("h"))
        .distinct()
      val minK = udaf(new graft.operators.Aggregators.MinKAggregator(k))
      val kmv = sh.groupBy(col("side"))
        .agg(minK(col("h")).as("kmv"), count(lit(1)).as("n_distinct"))
      val a = kmv.filter(col("side") === "bench")
        .select(col("kmv").as("ka"), col("n_distinct").as("bench_distinct"))
      val b = kmv.filter(col("side") === "train")
        .select(col("kmv").as("kb"), col("n_distinct").as("train_distinct"))
      val exactI = sh.filter(col("side") === "bench").select("h")
        .intersect(sh.filter(col("side") === "train").select("h"))
        .agg(count(lit(1)).as("exact_intersection"))
      a.crossJoin(b).crossJoin(exactI)
        .withColumn("theta",
          least(element_at(col("ka"), k), element_at(col("kb"), k)))
        .withColumn("inter_below",
          size(filter(array_intersect(col("ka"), col("kb")),
            x => x < col("theta"))).cast("long"))
        .select(
          lit(k.toLong).as("k"),
          col("bench_distinct"), col("train_distinct"),
          col("exact_intersection"), col("theta"),
          expr(s"CAST(inter_below * ${Dedup.HashMod}L DIV theta AS BIGINT)")
            .as("est_intersection"))
    }),

    // D17: SemDeDup-style semantic dedup (Abbas et al. 2023) — a seeded
    // K-Means partitions the embedding space (fit on a bounded
    // hash-prefix sample), then each cluster drops members with a senior
    // cosine-neighbor ≥ 0.35. k=8 keeps ~64 vectors/cluster at this
    // scale; production callers use the adaptive k ~ n/targetCluster
    // wrapper so the cluster self-join stays linear in n. The oracle is
    // a golden parquet — K-Means is not expressible in DuckDB (same
    // precedent as ml1–ml5); PipelineSpec carries the behavioral checks
    // (planted near-dup dropped, seniors kept, flag/population invariants).
    "d17_semdedup" -> ((s, dir) => {
      SimilaritySearch.semanticDedup(Catalog.embeddings(s, dir), 0.35, k = 8)
        .orderBy(col("vec_id"))
    }),

    // D20: the adaptive-k production form of d17 (the d5→d14 precedent):
    // k = max(2, ceil(n / targetCluster)) keeps expected cluster
    // population ~128 as the corpus grows, so the within-cluster
    // self-join stays O(n·cluster) instead of O(n²/k_fixed). At sf0.01
    // (500 vectors) the rule picks k=4; golden oracle, same regeneration
    // recipe as d17.
    "d20_semdedup_scaled" -> ((s, dir) => {
      SimilaritySearch.semanticDedupAdaptive(Catalog.embeddings(s, dir), 0.35,
          targetCluster = 128)
        .orderBy(col("vec_id"))
    }),

    // V1: brute-force cosine top-10 for 5 query vectors (exact ANN baseline).
    "v1_knn_brute" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      SimilaritySearch.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // V2: LSH-bucketed ANN — 6 deterministic hyperplanes partition the
    // corpus into ≤64 buckets; each query probes only its bucket.
    "v2_knn_lsh" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      SimilaritySearch.lshTopK(emb, emb.filter(col("vec_id") < 20), 5, nPlanes = 6, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // V3: IVF coarse-quantizer training — per-partition elementwise
    // centroid means, long-form (part, i, c).
    "v3_ivf_centroids" -> ((s, dir) => {
      SimilaritySearch.ivfCentroids(Catalog.embeddings(s, dir), "label")
        .select(col("part"), col("i").cast("long").as("i"), col("c"))
        .orderBy(col("part"), col("i"))
    }),

    // V4: IVF probe search — score ≤10 centroids per query, probe the 2
    // nearest partitions, exact-search only those (partition-pruned ANN).
    // V9: coarse-then-rerank retrieval — cheap truncated-prefix (32 of
    // 64 dims: half the flops/bytes) scan keeps a 100-vector shortlist
    // per query; exact cosine re-scores only the shortlist. The
    // two-stage shape that bounds the expensive exact stage at any
    // corpus size.
    "v9_coarse_rerank" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      SimilaritySearch.coarseRerankTopK(emb, emb.filter(col("vec_id") < 5),
          k = 10, coarseDim = 32, shortlist = 100)
        .orderBy(col("query_id"), col("rank"))
    }),

    // V8: IVF-PQ ADC top-k — query-side distance LUT against the PQ
    // codebook, corpus contributes only its codes (the RAM-resident ANN
    // query path for a quantized embedding store).
    "v8_ivfpq_adc" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      SimilaritySearch.pqAdcTopK(emb, emb.filter(col("vec_id") < 10), "label",
          k = 5, nSub = 8, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    "v4_ivf_topk" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      SimilaritySearch.ivfTopK(emb, emb.filter(col("vec_id") < 10), "label",
          k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // V10: the SERVING-shaped IVF — build the persisted index (centroid
    // table + corpus partitioned by coarse cell, norms precomputed),
    // then answer queries by scanning only the probed cells' directories
    // (partition pruning at the source). Output-identical to v4.
    "v10_ivf_persisted" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      val idx = ScratchDirs.create("ivf_idx_")
      SimilaritySearch.buildIvfIndex(emb, "label", idx)
      SimilaritySearch.queryIvfIndex(s, idx, emb.filter(col("vec_id") < 10),
          k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // V11: ANN recall evaluation — recall@5 of the IVF index (nProbe=2)
    // against the exact brute-force ground truth, per query. The harness
    // every ANN deployment runs before trusting an index: ground truth
    // and candidate sets are both distributed top-k computations, the
    // comparison is one semi-join-shaped aggregate on (query, neighbor).
    // At 100 TB the ground truth runs once over a fixed query SAMPLE
    // (queries here are a bounded slice, so the brute side stays
    // |sample|·|corpus|, map-side only — no all-pairs anywhere).
    "v11_recall_eval" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, qs, 5)
        .select(col("query_id"), col("vec_id"))
      val approx = SimilaritySearch.ivfTopK(emb, qs, "label", k = 5, nProbe = 2)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("n_exact"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_exact"), 6).as("recall"))
        .orderBy(col("query_id"))
    }),

    // V5: int8 scalar-quantized top-k — the corpus scanned at 1/4 the
    // bytes (256-level per-dimension grid); ranking fidelity bounded by
    // grid error. Exactly models decode-from-int8-storage.
    "v5_int8_knn" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      SimilaritySearch.sqTopK(emb, emb.filter(col("vec_id") < 5), 10, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // V6: multi-probe LSH — v2's buckets plus the 2 least-confident-bit
    // flips per query; corpus hashed once, only queries fan out.
    "v6_multiprobe_knn" -> ((s, dir) => {
      val emb = Catalog.embeddings(s, dir)
      SimilaritySearch.lshTopKMultiProbe(emb, emb.filter(col("vec_id") < 20), 5,
          nPlanes = 6, dim = 64, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // D10: blocked edit-distance record linkage — part names blocked on
    // (first word, size), exact Levenshtein ≤ 2 within blocks.
    "d10_blocked_editdist" -> ((s, dir) => {
      val p = Catalog.part(s, dir)
      Dedup.blockedEditDistancePairs(p, "p_partkey", "p_name",
          Seq(split(col("p_name"), " ").getItem(0), col("p_size").cast("string")),
          maxDist = 2)
        .orderBy(col("id1"), col("id2"))
    }),

    // D15: the production (sorted-neighborhood) form of d10 — distinct
    // names pair only with their `window` sorted neighbors per block
    // (forward + reversed-string passes, Hernández-Stolfo multi-pass
    // SNM), O(n·w) candidates instead of quadratic-in-block-population.
    // Unordered pair-set contract, same rationale as d6/d12.
    "d15_editdist_sorted" -> ((s, dir) => {
      val p = Catalog.part(s, dir)
      Dedup.sortedNeighborEditPairs(p, "p_partkey", "p_name",
          Seq(split(col("p_name"), " ").getItem(0), col("p_size").cast("string")),
          maxDist = 2, window = 10)
    }),

    // D16: the collapsed (rep-level) form of d15 — one row per matched
    // distinct-NAME pair with clone multiplicities, clone-count-
    // independent output (the d12 pattern applied to record linkage;
    // d15's expanded id pairs measured 156M rows at scale 50).
    "d16_editdist_repdup" -> ((s, dir) => {
      val p = Catalog.part(s, dir)
      Dedup.sortedNeighborRepPairs(p, "p_partkey", "p_name",
          Seq(split(col("p_name"), " ").getItem(0), col("p_size").cast("string")),
          maxDist = 2, window = 10)
    }),

    // V7: product-quantization codes — 8 subspaces × nearest subspace
    // centroid: a 64-dim float32 vector stored as 8 small codes (32×
    // compression) plus the per-subvector reconstruction error.
    "v7_pq_codes" -> ((s, dir) => {
      SimilaritySearch.pqCodes(Catalog.embeddings(s, dir), "label",
          nSub = 8, dim = 64)
        .orderBy(col("vec_id"), col("sub"))
    }),

    // D7: connected components over the LSH candidate pairs —
    // alternating large-star/small-star contraction (O(log n) rounds,
    // never O(diameter) propagation).
    "d7_cc_components" -> ((s, dir) => {
      Dedup.connectedComponents(
          Dedup.lshCandidatePairs(Catalog.documents(s, dir)).select(col("doc1"), col("doc2")),
          pairsDistinct = true)
        .orderBy(col("node"))
    }),

    // D8: full dedup resolution — pairs → components → canonical pick
    // (longest text wins, ties to smallest doc_id); singletons kept.
    "d8_dedup_resolve" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      Dedup.resolveDuplicates(docs,
          Dedup.lshCandidatePairs(docs).select(col("doc1"), col("doc2")),
          pairsDistinct = true)
        .withColumn("keep", col("keep").cast("long"))
        .orderBy(col("doc_id"))
    }),

    // T5: deterministic hash-stratified sampling — content-addressed
    // buckets (md5 mod 100) with per-language keep rates; reproducible
    // across runs/engines, unlike rand()-based sample().
    "t5_hash_sample" -> ((s, dir) => {
      val rates = Seq("en" -> 50, "de" -> 25) // others keep everything
      val rate = rates.foldLeft(lit(100)) { case (acc, (l, r)) =>
        when(col("lang") === l, lit(r)).otherwise(acc)
      }
      Catalog.documents(s, dir)
        .select(col("doc_id"), col("lang"), sampleBucket(col("doc_id")).as("bucket"))
        .filter(col("bucket") < rate)
        .orderBy(col("doc_id"))
    }),

    // T6: repetition signals (Gopher-style): top-token fraction (explode
    // + two-level codegen agg) and duplicate-bigram fraction (row-local).
    "t6_repetition" -> ((s, dir) => {
      // everything long-form: exploded tokens feed both token stats and
      // the bigram dup fraction — no interpreted array HOFs anywhere
      // (the row-local dupNgramFraction form is 60x slower materialized)
      val docs = Catalog.documents(s, dir)
      val tokStats = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_token_frac"))
      val bigrams = graft.functions.TextFunctions.explodedShingles(docs, "doc_id", "text", 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("tot"), countDistinct(col("shingle")).as("dis"))
        .select(col("doc_id"),
          round(lit(1.0) - col("dis").cast("double") / col("tot"), 6).as("dup_bigram_frac"))
      docs.select(col("doc_id"))
        .join(tokStats, Seq("doc_id"), "left")
        .join(bigrams, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("top_token_frac"), lit(0.0)).as("top_token_frac"),
          coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // E1: the end-to-end curation pipeline — the flagship composition:
    // near-dup resolution (keep one canonical doc per component) ∘
    // quality floor ∘ deterministic 60% hash-sample, in ONE DataFrame
    // job. This is the shape a 100 TB training-data run takes: each
    // stage is a bounded shuffle; nothing collects to the driver.
    "e1_curate" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      val kept = Dedup.resolveDuplicates(docs,
          Dedup.lshCandidatePairs(docs).select(col("doc1"), col("doc2")),
          pairsDistinct = true)
        .filter(col("keep"))
        .select(col("doc_id"), col("component"))
      val toks = tokens(col("text"))
      docs.join(kept, Seq("doc_id"))
        .withColumn("quality", qualityScore(col("text"), toks))
        .filter(col("quality") >= 0.5)
        .filter(sampleBucket(col("doc_id")) < 60)
        .select(col("doc_id"), col("component"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // T8: sequence packing — assign docs to fixed-token-budget training
    // bins. Greedy first-fit is inherently sequential; the distributable
    // form is cumulative-sum binning in a canonical order (bin =
    // floor(tokens-before-this-doc / budget)): one window pass per
    // stratum, deterministic, with overflow bounded by one document's
    // length (the standard parallel-packing trade-off).
    "t8_pack_sequences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 256L
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Catalog.documents(s, dir)
        .select(col("doc_id"), col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("bin", floor(col("cum_before") / budget).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // T9: token-budget data mixing — each language stratum contributes at
    // most its token budget, drawn deterministically in doc_id order (the
    // shape a training-mix draw takes: budgets per source/language, not
    // row-count fractions). One window pass; the first doc that crosses
    // the budget still ships (bounded overshoot, same contract as t8).
    "t9_token_budget_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budgets = Seq("en" -> 4000L, "de" -> 1500L) // others: 2500
      val budget = budgets.foldLeft(lit(2500L)) { case (acc, (l, b)) =>
        when(col("lang") === l, lit(b)).otherwise(acc)
      }
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Catalog.documents(s, dir)
        .select(col("doc_id"), col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .filter(col("cum_before") < budget)
        .orderBy(col("doc_id"))
    }),

    // T10: benchmark decontamination — flag training docs sharing too
    // many trigrams with a held-out benchmark set (docs ≡ 0 mod 50 here).
    // The benchmark shingle dictionary joins as a semi-join on the
    // shingle hash — AQE broadcasts it while it's small; at real scale
    // it's a shuffled semi-join that stays O(doc shingles), never a
    // cross product.
    "t10_decontaminate" -> ((s, dir) => {
      // long-form shingling (codegen'd explode+lead, not interpreted
      // array HOFs); distinct-per-doc replaces array_distinct. Two plan
      // facts bought a 100× 15.4 s → single-digit profile: (1) the bench
      // dictionary explodes the PRE-FILTERED 1-in-50 bench slice (the t35
      // filter-before-window rule — the old shared-frame form re-ran the
      // FULL corpus explode+distinct once per consumer just to keep 2% of
      // it); (2) per-doc total and overlap counts come from ONE pass over
      // the exploded train stream via a marked left join (both sides
      // distinct ⇒ multiplicity 1), not two doc aggregates joined back —
      // the CurateApp stage-5 shape.
      val docs = Catalog.documents(s, dir)
      val train = graft.functions.TextFunctions
        .explodedDistinctShingles(docs.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "text", 3) // row-local per-doc dedup: no corpus exchange
      val benchShingles = graft.functions.TextFunctions
        .explodedShingles(docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 3)
        .select(col("shingle")).distinct()
      val counts = train
        .join(benchShingles.withColumn("hit", lit(1)), Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_overlap"))
      docs.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"))
        .join(counts, Seq("doc_id"), "left")
        .withColumn("n_sh", coalesce(col("n_sh"), lit(0L)))
        .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
        .withColumn("overlap_frac",
          when(col("n_sh") > 0, round(col("n_overlap") / col("n_sh"), 6)).otherwise(lit(0.0)))
        .withColumn("contaminated", (col("overlap_frac") >= 0.5).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // T37: contamination ATTRIBUTION — t10 tells you a training doc
    // overlaps the benchmark union; the first operational question after
    // that is WHICH benchmark suite leaked (deletion scope, provenance,
    // whether a whole suite must rotate). Per-suite distinct shingle
    // dictionaries (suite = the bench doc's source), one pass of the
    // exploded train stream for per-(doc, suite) overlap, the t10
    // total-overlap flag computed against the suite-agnostic union
    // (a shingle shared by two suites counts once toward the flag), and
    // the top suite per doc via the rank-1 window (WindowGroupLimit —
    // bounded, never a per-doc sort spill). Emits only docs with ≥1
    // overlapping shingle; counts are integers and the fraction is the
    // t10 ROUND(·, 6) form, so both engines hash-agree.
    "t37_contam_attribution" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      // both shingle frames feed two consumers (totals + per-suite /
      // per-suite + union) — pinned, or Catalyst re-runs the explode
      // window per reference (6 scans / 7 windows → 3 / 3, the t36
      // lesson)
      val train = graft.functions.TextFunctions
        .explodedDistinctShingles(docs.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "text", 3) // row-local per-doc dedup: no corpus exchange
        .transform(Pin.truncate(_))
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val suiteShingles = graft.functions.TextFunctions
        .explodedShingles(bench, "doc_id", "text", 3)
        .join(bench.select(col("doc_id"), col("source").as("suite")), Seq("doc_id"))
        .select(col("suite"), col("shingle")).distinct().transform(Pin.truncate(_))
      val benchUnion = suiteShingles.select(col("shingle")).distinct()
      val totals = train
        .join(benchUnion.withColumn("hit", lit(1)), Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("total_overlap"))
      val perSuite = train.join(suiteShingles, Seq("shingle"))
        .groupBy(col("doc_id"), col("suite"))
        .agg(count(lit(1)).as("suite_overlap"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("suite_overlap").desc, col("suite").asc)
      perSuite
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("doc_id"), col("suite").as("top_suite"),
          col("suite_overlap").as("top_suite_overlap"))
        .join(totals, Seq("doc_id"))
        .select(col("doc_id"), col("n_sh"), col("total_overlap"),
          when(col("n_sh") > 0,
            round(col("total_overlap") / col("n_sh"), 6)).otherwise(lit(0.0))
            .as("overlap_frac"),
          (round(col("total_overlap") / col("n_sh"), 6) >= 0.5).cast("long")
            .as("contaminated"),
          col("top_suite"), col("top_suite_overlap"))
        .orderBy(col("doc_id"))
    }),

    // T38: mixture weights at sampling temperature α = 0.5 (the
    // Pile/LLaMA pretraining recipe: upweight small sources by
    // share^α / Σ share^α so no single crawl dominates). Integer token
    // counts per source, then weight RATIOS against the largest source —
    // sqrt(n_tokens/max_tokens) needs only correctly-rounded IEEE ops on
    // identical integer inputs, so the doubles hash-match DuckDB without
    // the summation-order trap a normalized Σ share^α would carry.
    // One narrow aggregate + a one-row broadcast max: linear, no window
    // over data-sized frames.
    "t38_mix_temperature" -> ((s, dir) => {
      val perSource = Catalog.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
            .as("n_tokens"))
      perSource
        .crossJoin(broadcast(perSource.agg(max(col("n_tokens")).as("max_tokens"))))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(sqrt(col("n_tokens") / col("max_tokens")), 6).as("weight_ratio"))
        .orderBy(col("source"))
    }),

    // T39: span-SURGERY decontamination — the salvage alternative to
    // t10/t36's flag-and-drop (GPT-3 appendix C): excise a ±5-token
    // window around every benchmark 3-gram hit, merge overlapping
    // windows (gaps-and-islands over a doc-keyed window), and keep the
    // rest of the document. 3-gram grain is the fixture-proportional
    // analog of GPT-3's 13-grams (docs here average ~54 tokens); the
    // operator's production default stays at 5. The oracle recomputes
    // positions, the interval union, AND the cleaned text (position
    // anti-join + ordered string_agg) independently of the engine's
    // row-local HOF rebuild; cleaned_fp hashing the kept tokens pins
    // both to the same surviving text, not just the same counts.
    "t39_decontaminate_surgery" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      graft.operators.Decontaminate.surgerySpans(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          nGram = 3, pad = 5)
        .select(col("doc_id"), col("n_tokens"), col("n_hits"),
          col("n_spans_removed"), col("removed_tokens"), col("kept_frac"),
          md5(col("cleaned_text")).as("cleaned_fp"))
        .orderBy(col("doc_id"))
    }),

    // T11: PII detection + redaction — the scrub pass every training-data
    // pipeline runs before release. Deterministic PII is planted from
    // doc_id (the corpus itself is synthetic), then counted and redacted
    // with pure regexp columns; patterns stay in the RE2 ∩ Java-regex
    // dialect so both engines agree.
    "t11_pii_redact" -> ((s, dir) => {
      val body = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 10."),
        (col("doc_id") % 200).cast("string"), lit(".0.1 call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\d{3}-\\d{3}-\\d{4}"
      val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      val redacted = regexp_replace(
        regexp_replace(regexp_replace(body, email, "<EMAIL>"), phone, "<PHONE>"),
        ip, "<IP>")
      Catalog.documents(s, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(body, lit(email), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(body, lit(phone), lit(0))).cast("long").as("n_phones"),
          size(regexp_extract_all(body, lit(ip), lit(0))).cast("long").as("n_ips"),
          md5(redacted).as("redacted_fp"))
        .orderBy(col("doc_id"))
    }),

    // T12: BM25 relevance of every document against a fixed query-term
    // bag (retrieval ranking / topicality filter; one explode+groupBy
    // pass builds tf/df, the vocabulary-sized model tables broadcast).
    "t12_bm25" -> ((s, dir) => {
      graft.operators.Relevance.bm25(Catalog.documents(s, dir),
          Seq("spark", "join", "window"))
        .orderBy(col("doc_id"))
    }),

    // T22: per-doc top-5 terms by smoothed TF-IDF — keyword extraction /
    // doc representation; ranked on the rounded score so the cross-engine
    // order is reproducible (see Relevance.tfidfTopTerms).
    "t22_tfidf_terms" -> ((s, dir) => {
      graft.operators.Relevance.tfidfTopTerms(Catalog.documents(s, dir), topK = 5)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // T13: corpus-unigram log-probability per document — the cheap
    // perplexity proxy for quality-ranking crawl documents.
    "t13_lm_score" -> ((s, dir) => {
      graft.operators.Relevance.unigramLogProb(Catalog.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    // D9: chunk-level exact dedup ACROSS the corpus (paragraph dedup at
    // fixed 10-token grain): every chunk is fingerprinted, the first
    // occurrence (lexicographic (doc_id, chunk)) is canonical, and each
    // doc reports how much of it is repeated elsewhere. One exchange on
    // the fingerprint — never a pairwise comparison.
    "d9_chunk_dedup" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val chunks = Catalog.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("c", explode(when(size(col("toks")) > 0,
          sequence(lit(0), ceil(size(col("toks")) / 10.0).cast("int") - 1))
          .otherwise(array().cast("array<int>"))))
        .select(col("doc_id"), col("c"),
          md5(concat_ws(" ", slice(col("toks"), col("c") * 10 + 1, lit(10)))).as("fp"))
      val canonical = chunks.groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("c"))).as("first"))
        .select(col("fp"), col("first.doc_id").as("cdoc"), col("first.c").as("cc"))
      chunks.join(canonical, Seq("fp"))
        .withColumn("dup", (col("doc_id") =!= col("cdoc") || col("c") =!= col("cc")).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("dup")).as("n_dup_chunks"),
          round(sum(col("dup")).cast("double") / count(lit(1)), 6).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // D22: cross-corpus (A-vs-B) incremental dedup — the ingest-screen
    // contract: which NEW documents (content-hash bucket ≥ 80) are exact
    // or near duplicates OF THE EXISTING corpus. Self-dedup (d1/d2)
    // can't answer this; it is the batch form of CurateStreamApp's
    // per-micro-batch screen, and this oracle is the screen's only
    // hash-exact cross-engine check. Precedence matches the app:
    // exact_dup > near_dup > fresh. Shape at 100 TB: both checks are
    // semi-joins keyed by content hash / band signature — the small NEW
    // side broadcasts, the corpus is scanned once and never shuffled.
    "d22_incremental_dedup" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      val isNew = sampleBucket(col("doc_id")) >= 80
      val old = docs.filter(!isNew)
      val neu = docs.filter(isNew)
      val oldFps = old.select(exactFingerprint(col("text")).as("fp")).distinct()
      val exactHit = neu
        .select(col("doc_id"), exactFingerprint(col("text")).as("fp"))
        .join(oldFps, Seq("fp"), "left_semi")
        .select(col("doc_id"), lit(1L).as("is_exact"))
      val oldBands = Dedup.lshBands(old).select(col("band"), col("sig")).distinct()
      val nearHit = Dedup.lshBands(neu)
        .join(oldBands, Seq("band", "sig"), "left_semi")
        .select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(1L).as("is_near"))
      neu.select(col("doc_id"))
        .join(exactHit, Seq("doc_id"), "left")
        .join(nearHit, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact") === 1L, "exact_dup")
            .when(col("is_near") === 1L, "near_dup")
            .otherwise("fresh").as("verdict"))
        .orderBy(col("doc_id"))
    }),

    // D21: content-defined chunk dedup — d9's contract with LBFS/FastCDC
    // boundaries (rolling window hash picks the cut points), so chunk
    // fingerprints survive token insertions/deletions that shift every
    // fixed-stride chunk. The shift-robust half of the chunk-dedup
    // ladder; per-doc windows only, corpus dedup is one fp groupBy.
    "d21_cdc_chunks" -> ((s, dir) => {
      Dedup.cdcChunkStats(Catalog.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    // C5: the FULL curation pipeline's attrition report — benchmark
    // holdout, quality gate, exact dedup, LSH near-dup resolution, and
    // benchmark decontamination in one DAG (graft.CurateApp), with every
    // stage's doc/token attrition machine-checked against a DuckDB
    // replica of the whole pipeline.
    "c5_curate_report" -> ((s, dir) => {
      val (frame, release) = graft.CurateApp.taggedCached(Catalog.documents(s, dir))
      val rep = graft.CurateApp.report(frame).orderBy(col("stage"))
      // the report is ≤6 rows by construction (the stage enum), so an
      // eager driver materialization is bounded and lets the shared-stage
      // cache release before the frame is handed to the caller
      val rows = rep.collect()
      release()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
    }),

    // C5V: the c5 curation pipeline with the PERPLEXITY quality gate
    // (curation.qualityGate = perplexity — the CCNet production filter):
    // same DAG, but stage 2 rejects on the t35 bigram-LM NLL threshold
    // instead of the composite score. The oracle replays the whole
    // pipeline with the t35 LM CTEs substituted for the score CTEs, so
    // the gate switch is machine-checked end-to-end, not just per-doc.
    "c5v_curate_report_ppl" -> ((s, dir) => {
      val (frame, release) = graft.CurateApp.taggedCached(Catalog.documents(s, dir),
        graft.Curation.default.copy(qualityGate = "perplexity"))
      val rep = graft.CurateApp.report(frame).orderBy(col("stage"))
      val rows = rep.collect() // ≤6 rows by construction (the stage enum)
      release()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
    }),

    // C5W: the c5 curation pipeline with the FUZZY contamination gate
    // (curation.contamGate = fuzzy): stage 5 flags near-CLONES of
    // benchmark docs (t36 band candidates + exact-Jaccard verify)
    // instead of shingle-overlap mass. The oracle replays the whole
    // pipeline with the t36 CTEs banded over the survivor∪bench slice.
    "c5w_curate_report_fuzzy" -> ((s, dir) => {
      val (frame, release) = graft.CurateApp.taggedCached(Catalog.documents(s, dir),
        graft.Curation.default.copy(contamGate = "fuzzy"))
      val rep = graft.CurateApp.report(frame).orderBy(col("stage"))
      val rows = rep.collect() // ≤6 rows by construction (the stage enum)
      release()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
    }),

    // C5X: the c5 curation pipeline with the SEMANTIC near-dup method
    // (curation.nearDupMethod = semantic — SemDeDup, Abbas et al. 2023):
    // the corpus is documents ⋈ embeddings and stage 4's candidate
    // generator is within-K-Means-cluster cosine ≥ tau instead of
    // MinHash bands, so paraphrases that share no shingles still pair.
    // The oracle replays the whole pipeline from the raw embeddings with
    // ONLY the K-Means fit pinned as a golden (vec_id, cluster) parquet
    // (goldens/c5x_clusters.parquet, regenerated by
    // graft.tmp.GenC5xGolden) — the within-cluster cosine gate, the
    // connected components, the longest-member resolution and the
    // attrition report are all recomputed independently in DuckDB.
    // tau = 0.35, the d17/d20 threshold: the driver's synthetic
    // embeddings are near-orthogonal (max pairwise cosine ≈ 0.51), so
    // the production 0.95 default would make the semantic stage silent
    // on this fixture; 0.35 keeps the near-dup stage live-signaled.
    "c5x_curate_report_semantic" -> ((s, dir) => {
      val corpus = Catalog.documents(s, dir).join(
        Catalog.embeddings(s, dir)
          .select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      val (frame, release) = graft.CurateApp.taggedCached(corpus,
        graft.Curation.default.copy(widths = graft.DedupWidths.default.copy(
          method = "semantic", semanticTau = 0.35)))
      val rep = graft.CurateApp.report(frame).orderBy(col("stage"))
      val rows = rep.collect() // ≤6 rows by construction (the stage enum)
      release()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
    }),

    // C5Y: the c5 pipeline under the SPAN-SURGERY contamination gate
    // (curation.contamGate = surgery, t39's salvage semantics at the
    // same fixture-proportional 3-gram grain): docs quoting benchmark
    // text get the quote EXCISED and stay in the corpus unless less
    // than half their tokens survive. The report gains two columns —
    // kept docs that were operated on, and the token mass excised from
    // them; n_tokens stays the original count so the rows still
    // partition the corpus. The oracle replays the whole pipeline with
    // the t39 CTEs over the stage-4 survivor set; the per-doc cleaned
    // TEXT equality is t39's own oracle contract, so counts here pin
    // which docs were cut, dropped, and kept.
    "c5y_curate_report_surgery" -> ((s, dir) => {
      val (frame, release) = graft.CurateApp.taggedCached(Catalog.documents(s, dir),
        graft.Curation.default.copy(contamGate = "surgery", surgeryNGram = 3, surgeryPad = 5))
      val rep = frame.groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          sum(col("surgered").cast("long")).as("n_surgered"),
          sum(col("surgery_removed_tokens")).as("surgery_removed_tokens"))
        .orderBy(col("stage"))
      val rows = rep.collect() // ≤6 rows by construction (the stage enum)
      release()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), rep.schema)
    }),

    // D11: exact duplicated-substring spans (char-24-gram match) — the
    // verbatim-overlap complement to token-shingle near-dup. Runs the
    // production path (xxhash64 gram keys, 8 bytes shuffled vs 24): the
    // oracle compares the OUTPUT pair counts, which a 64-bit collision
    // would need to perturb (p ≈ 10⁻⁸ at this corpus size; the literal
    // and hashed forms are asserted identical in PipelineSpec).
    // No ORDER BY (the d6 convention): the pair SET is the contract and
    // the gate's compare is row-order-independent. A global sort here is
    // worse than harness noise — the range partitioner's sampling pass
    // RE-EXECUTES the final pair aggregate, so the query's most expensive
    // stage ran twice (2×38 GB of external-agg spill at 100×) to order
    // rows nobody consumes ordered.
    "d11_substring_spans" -> ((s, dir) => {
      Dedup.exactSubstringSpans(Catalog.documents(s, dir),
          k = 24, minShared = 10, maxBucket = 1000, hashGrams = true)
    }),

    // D18: the winnowed production contract for d11 (Schleimer et al.
    // SIGMOD'03 fingerprint selection): only each 9-window's
    // lexicographically smallest 24-gram is keyed — keyed rows ÷5.9,
    // gram shuffle 17→6.9 GB, wall 110→41 s on the 100× fixture — while
    // any shared span ≥ w+k−1 = 32 chars is still guaranteed to collide
    // (context-shared grams stay selected everywhere, so genuine span
    // candidates are preserved, not thinned; see the operator scaladoc).
    // minShared=2 ≈ d11's 10-shared-gram floor × the 2/(w+1) selection
    // density. The oracle replicates the selection with literal grams
    // (list_min over sliding list_slice windows); the Spark side keys
    // the same selections by rolling hash — identical pair counts modulo
    // 64-bit collisions, the d11 hashGrams argument.
    "d18_winnowed_spans" -> ((s, dir) => {
      // no ORDER BY — same rationale as d11/d6
      Dedup.winnowedSubstringSpans(Catalog.documents(s, dir),
          k = 24, w = 9, minShared = 2, maxBucket = 1000)
    }),

    // D19: pair-free per-document duplicated-span fraction — the
    // linear-at-any-density end of the d11→d18→d19 ladder (the
    // Gopher/RefinedWeb curation decision signal). One frequency count
    // over winnowed fingerprints + one join back; no pair expansion, so
    // cost is O(selected rows) regardless of how span-dense the corpus
    // is (the property d18's pair contract cannot have).
    "d19_dup_span_fraction" -> ((s, dir) => {
      Dedup.dupSpanFraction(Catalog.documents(s, dir), k = 24, w = 9)
        .orderBy(col("doc_id"))
    }),

    // T14: corpus-wide top-K bigrams — the collocation/phrase-mining pass
    // (vocabulary pruning, boilerplate discovery). Shingling runs through
    // the codegen posexplode+lead path; the count is one map-side-combined
    // shuffle on the bigram key and top-K is a global sort of the (small)
    // distinct-bigram aggregate, never of the exploded rows.
    "t14_top_ngrams" -> ((s, dir) => {
      explodedShingles(Catalog.documents(s, dir), "doc_id", "text", 2)
        .groupBy(col("shingle").as("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(20)
    }),

    // T15: inverted index — per term: document frequency and a bounded,
    // sorted posting-list prefix (the retrieval-index build pass; the cap
    // keeps per-term state bounded no matter how common the term). The
    // posting list is rendered as a comma-joined string so the result is
    // flat-hashable by any downstream comparator.
    "t15_inverted_index" -> ((s, dir) => {
      Catalog.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .distinct()
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(
            transform(slice(sort_array(collect_set(col("doc_id"))), 1, 20),
              _.cast("string")),
            ",").as("postings"))
        .filter(col("df") >= 100)
        .orderBy(col("term"))
    }),

    // T16: deterministic stratified train/val/test split (80/10/10 by
    // content-addressed md5 bucket, stratified per language) — reruns and
    // engines agree on every document's split, so downstream shards are
    // reproducible with no RNG state.
    "t16_stratified_split" -> ((s, dir) => {
      val bucket = sampleBucket(col("doc_id"))
      Catalog.documents(s, dir)
        .select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split"))
    }),

    // T17: deterministic per-group sample — the k lexicographically-first
    // md5(doc_id) docs per language (uniform-in-expectation, reproducible
    // across runs/engines/partitionings; the per-stratum cap counterpart
    // of t16's proportional split). Spark 4 plans the rank as a
    // WindowGroupLimit, so no group ever fully sorts.
    "t17_group_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Catalog.documents(s, dir)
        .select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 20)
        .orderBy(col("lang"), col("rk"))
    }),

    // T18: bigram language model — most likely successor per frequent
    // word with its conditional probability (c1 = the word's count as a
    // bigram head, so probabilities sum to 1 by construction). The corpus
    // pass is the same codegen shingle explode as t14; the per-head
    // argmax is one window over the (small) distinct-bigram table.
    "t18_bigram_lm" -> ((s, dir) => {
      val w1 = split(col("shingle"), " ").getItem(0)
      val w2 = split(col("shingle"), " ").getItem(1)
      val bi = explodedShingles(Catalog.documents(s, dir), "doc_id", "text", 2)
        .select(w1.as("w1"), w2.as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val win = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
      bi.withColumn("c1", sum(col("c12")).over(win))
        .withColumn("rk", row_number().over(win.orderBy(col("c12").desc, col("w2"))))
        .filter(col("rk") === 1 && col("c1") >= 100)
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          round(col("c12").cast("double") / col("c1"), 6).as("prob"))
        .orderBy(col("w1"))
    }),

    // T19: sliding-window chunking (RAG/pretraining shape): 50-token
    // windows at stride 30 (20-token overlap), each chunk
    // content-addressed by md5 so downstream chunk dedup/retrieval is
    // reproducible. Window starts are row-local math over the token
    // array — one explode, no shuffle until the final sort.
    "t19_chunk_windows" -> ((s, dir) => {
      val win = 50; val stride = 30
      val toks = tokens(col("text"))
      Catalog.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) > 0)
        .withColumn("chunk_idx",
          explode(sequence(lit(0), floor((size(col("toks")) - 1) / stride).cast("int"))))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * stride + 1).as("start_tok"),
          least(size(col("toks")) - col("chunk_idx") * stride, lit(win)).as("n_toks"),
          md5(concat_ws(" ",
            slice(col("toks"), col("chunk_idx") * stride + 1, lit(win)))).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // T29: in-document repetition REMOVAL — the transform side of t6's
    // signal (CCNet/RefinedWeb line-wise correction, at chunk grain since
    // the fixture has no newlines): within each doc, keep only the FIRST
    // occurrence of every 10-token chunk and fingerprint the cleaned
    // text. All shuffles are keyed by doc_id (window + final agg);
    // nothing crosses documents, so the pass is embarrassingly parallel
    // at any corpus size.
    "t29_dedup_transform" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = tokens(col("text"))
      val chunks = Catalog.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) > 0)
        .withColumn("c", explode(sequence(lit(0),
          ceil(size(col("toks")) / 10.0).cast("int") - 1)))
        .select(col("doc_id"), col("c"),
          concat_ws(" ", slice(col("toks"), col("c") * 10 + 1, lit(10))).as("chunk"))
      val w = Window.partitionBy(col("doc_id"), col("chunk")).orderBy(col("c"))
      chunks
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          round(sum(when(col("rn") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("kept_frac"),
          md5(concat_ws(" ",
            transform(array_sort(collect_list(when(col("rn") === 1,
              struct(col("c"), col("chunk"))))),
              x => x.getField("chunk")))).as("cleaned_fp"))
        .orderBy(col("doc_id"))
    }),

    // T30: BPE tokenizer application — encode every word through a
    // rank-ordered merge table (Sennrich et al. 2016's APPLY step, the
    // real-tokenizer upgrade of t1's regex proxy; budget/packing math
    // downstream of t8/t9 wants THESE counts). The merge chain compiles
    // to a fixed sequence of literal string replaces over a
    // slash-delimited symbol encoding (see TextFunctions.bpeSymbols) —
    // entirely row-local codegen, one map-side-combined aggregate per
    // doc, and the oracle runs the identical chain.
    "t30_bpe_encode" -> ((s, dir) => {
      Catalog.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .select(col("doc_id"), length(col("w")).cast("long").as("nc"),
          bpeSubwordCount(bpeSymbols(col("w"))).as("ns"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("nc")).as("n_chars"),
          sum(col("ns")).as("n_subwords"),
          round(sum(col("ns")).cast("double") / sum(col("nc")), 6).as("compression"))
        .orderBy(col("doc_id"))
    }),

    // T31: BPE merge-table LEARNING (Sennrich et al. 2016 §3) — the other
    // half of t30: instead of applying a given table, learn one from the
    // corpus. One corpus-sized pass builds the word-frequency table; each
    // of the 12 iterations then explodes adjacent symbol pairs over the
    // VOCABULARY (orders of magnitude smaller than text — the reduction
    // that makes on-corpus tokenizer training viable at 100 TB), takes
    // the deterministic argmax, and applies the merge as one broadcast
    // column-pattern replace. No driver collect; the oracle unrolls the
    // identical loop into chained CTEs (see BpeLearn scaladoc).
    "t31_bpe_learn" -> ((s, dir) => {
      graft.operators.BpeLearn.learnMerges(
        graft.operators.BpeLearn.wordFrequencies(
          Catalog.documents(s, dir), "text"), nMerges = 12)
        .orderBy(col("rank"))
    }),

    // T32: token-budget mixing on LEARNED-BPE counts — t9's per-language
    // budget draw, but each document is weighed by the subword count of
    // the tokenizer t31 just learned from this corpus, not by whitespace
    // tokens (training mixes budget real tokenizer tokens; whitespace
    // counts misprice CJK-ish or agglutinative strata). The ≤12-row merge
    // table is collected to the driver — a tokenizer's merge table is a
    // driver/broadcast artifact by nature, the same bounded-collect class
    // as the IVF centroid set — and compiled into t30's codegen'd
    // replace chain; the corpus-sized work (encode + one window pass)
    // stays fully distributed.
    "t32_bpe_budget_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Catalog.documents(s, dir)
      val learned = learnedMerges(s, dir)
      val perDoc = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .select(col("doc_id"), bpeSubwordCount(bpeSymbols(col("w"), learned)).as("ns"))
        .groupBy(col("doc_id")).agg(sum(col("ns")).as("n_bpe_tokens"))
      val budget = when(col("lang") === "en", lit(12000L))
        .when(col("lang") === "de", lit(4500L)).otherwise(lit(7500L))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.select(col("doc_id"), col("lang"))
        .join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
        .withColumn("cum_before", coalesce(sum(col("n_bpe_tokens")).over(w), lit(0L)))
        .filter(col("cum_before") < budget)
        .orderBy(col("doc_id"))
    }),

    // T1: token statistics (whitespace + regex token counting).
    "t1_token_stats" -> ((s, dir) => {
      Catalog.documents(s, dir)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
          size(reTokens(col("text"))).cast("long").as("n_re_tokens"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // T2: language-ID by function-word ratio (argmax over profiles,
    // deterministic tiebreak).
    "t2_lang_id" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Catalog.documents(s, dir)
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          predictLang(toks).as("pred_lang"),
          round(stopwordRatio(toks, LangProfiles.toMap.apply("en")), 6).as("en_ratio"))
        .orderBy(col("doc_id"))
    }),

    // T3: quality scoring (length/token-shape/function-word composite).
    "t3_quality_score" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Catalog.documents(s, dir)
        .select(col("doc_id"),
          qualityScore(col("text"), toks).as("quality"),
          size(toks).cast("long").as("n_tokens"))
        .withColumn("low_quality", when(col("quality") < 0.5, 1L).otherwise(0L))
        .orderBy(col("doc_id"))
    }),

    // T20: the published Gopher document-quality rules (Rae et al. 2021
    // §A1.1) as per-doc integer pass-flags + the conjunctive keep bit —
    // the rule-based filter pass every large-corpus curation pipeline
    // runs before model-based scoring. One projection, no shuffle.
    "t20_gopher_rules" -> ((s, dir) => {
      val g = gopherFlags(col("text"), tokens(col("text")))
      Catalog.documents(s, dir)
        .select(col("doc_id"), g.as("g"))
        .select(col("doc_id"), col("g.*"))
        .withColumn("keep",
          (col("ok_word_count") * col("ok_mean_word_len") * col("ok_symbol_ratio")
            * col("ok_bullets") * col("ok_ellipses") * col("ok_alpha_words")
            * col("ok_stopwords")).cast("int"))
        .orderBy(col("doc_id"))
    }),

    // T21: quality-weighted deterministic downsampling — each document's
    // keep probability scales with its quality score, and the keep/drop
    // decision is CONTENT-ADDRESSED (md5 bucket vs probability), so the
    // thinned corpus is identical across reruns, engines, and
    // partitionings — the reproducible form of importance sampling a
    // corpus toward its high-quality tail. Row-local; no shuffle.
    "t21_weighted_sample" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val keepPct = floor(least(
        qualityScore(col("text"), toks) * 1.2, lit(1.0)) * 100).cast("long")
      Catalog.documents(s, dir)
        .select(col("doc_id"), col("lang"), keepPct.as("keep_pct"),
          sampleBucket(col("doc_id")).as("bucket"))
        .filter(col("bucket") < col("keep_pct"))
        .orderBy(col("doc_id"))
    }),

    // T25: URL hygiene — domain-level corpus statistics with a blocklist
    // filter, the first pass every crawl-derived corpus runs (group by
    // registered domain, score/filter domains, then filter docs by their
    // domain's verdict). The fixture has no URL column, so a
    // deterministic crawl URL is planted per doc (same convention as
    // t11's planted PII); extraction is pure regexp shared with the
    // oracle. Shape at 100 TB: the per-URL parse is row-local, the
    // domain rollup is one map-side-combined shuffle on the registered
    // domain (cardinality ≪ docs), and the blocklist is a literal predicate
    // pushed to the scan (a broadcast anti-join once it's a real table).
    "t25_url_domains" -> ((s, dir) => {
      val sub = element_at(array(lit("www"), lit("cdn"), lit("m")),
        (col("doc_id") % 3 + 1).cast("int"))
      val tld = element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
        (col("doc_id") % 4 + 1).cast("int"))
      val url = concat(lit("https://"), sub, lit("."), col("source"), lit("-"),
        (col("doc_id") % 7).cast("string"), lit("."), tld,
        lit("/"), col("lang"), lit("/item/"), col("doc_id").cast("string"))
      Catalog.documents(s, dir)
        .withColumn("url", url)
        .select(col("doc_id"), col("url"),
          urlHost(col("url")).as("host"),
          urlRegisteredDomain(col("url")).as("domain"),
          urlTld(col("url")).as("tld"),
          urlPathDepth(col("url")).as("path_depth"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .filter(!col("domain").isin("src0-0.com", "src1-1.org", "src2-2.net"))
        .groupBy(col("domain"), col("tld"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("n_tokens")).as("n_tokens"),
          max(col("path_depth")).as("max_depth"))
        .orderBy(col("domain"))
    }),

    // T28: model-based quality scoring — a hashed-feature linear
    // classifier (the fastText-style filter pass that follows t20's rule
    // gate in crawl pipelines: Brown et al. 2020 §A, CCNet). Features are
    // hashed unigrams; the weight table is addressed BY the hash
    // (deterministic md5-derived weights stand in for trained ones —
    // swapping in a learned table is a broadcast join keyed the same
    // way). score = mean token weight, squashed; the keep label compares
    // the INTEGER weight sum to zero, so the decision boundary is exact
    // across engines. Shape: explode → row-local weight → one map-side-
    // combined sum per doc; no weight-table shuffle at any corpus size.
    "t28_quality_classifier" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      val scored = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .select(col("doc_id"), hashedTokenWeight(col("t")).as("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("w")).as("w_sum"), count(lit(1)).as("n_tokens"))
      docs.select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          round(lit(1.0) / (lit(1.0) + exp(-coalesce(col("w_sum"), lit(0L))
            .cast("double") / (greatest(coalesce(col("n_tokens"), lit(0L)), lit(1L))
              * lit(2147483648.0)))), 6).as("score"),
          (coalesce(col("w_sum"), lit(0L)) >= 0).cast("long").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // T33: MODEL-based language ID — the hashed-feature linear head with
    // per-language weight vectors (fastText-style), trained on the
    // corpus's own labels and applied corpus-wide; t2's function-word
    // argmax stays as the cheap pre-pass. The weight table is bounded by
    // the hash dimensionality (broadcast at any corpus size) and the
    // label decision is cross-multiplied integer arithmetic — engine
    // -exact, no float in the decision path (see ml.LangClassifier).
    "t33_lang_classifier" -> ((s, dir) => {
      graft.ml.LangClassifier.trainPredict(Catalog.documents(s, dir))
        .orderBy(col("doc_id"))
    }),

    // T34: the held-out evaluation path of t33 — train on the t16
    // content-addressed 80% bucket, score every doc (the holdout rows are
    // predicted exactly as an unlabeled corpus would be), and emit
    // integer-exact per-split/per-lang accuracy counts. On the synthetic
    // fixture the ACCURACY is chance by design (lang is label-independent
    // noise — see LangClassifierSpec for real learning + generalization);
    // what the oracle pins is the split + train-slice weighting +
    // unseen-feature smoothing arithmetic.
    "t34_lang_holdout" -> ((s, dir) => {
      graft.ml.LangClassifier.trainPredictHoldout(Catalog.documents(s, dir))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("correct")).cast("long").as("n_correct"))
        .orderBy(col("split"), col("lang"))
    }),

    // T4: document fingerprints — exact (normalized md5) and sketch
    // (md5 of the 4 smallest distinct shingle hashes, winnowing-style).
    "t4_fingerprint" -> ((s, dir) => {
      // long-form winnowing: codegen explode+lead shingles → md5 per row →
      // one aggregate keeping the 4 smallest distinct hashes. The row-local
      // sketchFingerprint HOF chain (transform+md5 per element, interpreted)
      // is 30x slower once the column is actually materialized.
      val docs = Catalog.documents(s, dir)
      val sketch = graft.functions.TextFunctions.explodedShingles(docs, "doc_id", "text", 3)
        .select(col("doc_id"), md5(col("shingle")).as("h"))
        .groupBy(col("doc_id"))
        .agg(md5(concat_ws("|", slice(array_sort(collect_set(col("h"))), 1, 4)))
          .as("fp_sketch"))
      docs.select(col("doc_id"), exactFingerprint(col("text")).as("fp_exact"))
        .join(sketch, Seq("doc_id"), "left")
        // docs with <3 tokens have no shingles → md5 of the empty join
        .withColumn("fp_sketch", coalesce(col("fp_sketch"), md5(lit(""))))
        .orderBy(col("doc_id"))
    }),

    // M1: multimodal feature extraction — REAL PNG payloads decoded with
    // javax.imageio in a batched partition-level pass. The fixture's
    // images are solid fills whose dims/color are analytic functions of
    // the document row, so the oracle recomputes every decoded feature
    // from `documents` in SQL: a content check of the decode itself.
    "m1_media_features" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Catalog.documents(s, dir))
      // kind filter BELOW extractFeatures: mapPartitions is an opaque
      // barrier no filter can push through, so filtering after it would
      // decode (and synthesize) the other two modalities' payloads only
      // to drop them — 3× the work for the same rows (measured 15.4 →
      // 5.7 s at 10×). The when-chains in mediaFromDocuments evaluate
      // lazily per row, so pre-filtered rows never build foreign payloads.
      Multimodal.extractFeatures(media.filter(col("kind") === "image"))
        .select(col("media_id"), col("kind"),
          col("decoded_width"), col("decoded_height"), col("channels"),
          round(element_at(col("features"), 1).cast("double"), 4).as("mean_r"),
          round(element_at(col("features"), 2).cast("double"), 4).as("mean_g"),
          round(element_at(col("features"), 3).cast("double"), 4).as("mean_b"))
        .orderBy(col("media_id"))
    }),

    // M2: video frame sampling — explode of sampled frame indexes with
    // deterministic frame hashes (decode stubbed, plumbing real).
    "m2_frame_sample" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Catalog.documents(s, dir))
      Multimodal.sampleFrames(media, frameBytes = 100, step = 2)
        .select(col("media_id"), col("n_frames"), col("frame_idx"), col("frame_hash"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // M3: perceptual average-hash per image — real decode + deterministic
    // nearest-neighbor 8×8 resize + integer-threshold bits. Gradient
    // payloads (solid fills all hash to 0). Golden-parquet oracle: DuckDB
    // can't decode PNGs, but the output is bit-deterministic.
    "m3_image_ahash" -> ((s, dir) => {
      Multimodal.imageHashes(
          Multimodal.gradientImagesFromDocuments(Catalog.documents(s, dir)))
        .orderBy(col("media_id"))
    }),

    // M4: image near-dup candidates — 4×16-bit aHash bands bucket-join
    // (one shuffle, SimHash-style recall trade), exact Hamming verify.
    "m4_image_neardup" -> ((s, dir) => {
      // pinned (r13): imageNearDupPairs consumes the hash frame THREE
      // times (bucket-size gate + both self-join sides), and unpinned
      // each reference re-runs the PNG-synth + imageio-decode + aHash
      // kernel over every image — the m8/m9/m10 re-evaluation hazard.
      // One (media_id, ahash) row per image — bounded.
      val hashes = Multimodal.imageHashes(
        Multimodal.gradientImagesFromDocuments(Catalog.documents(s, dir)))
        .transform(Pin.truncate(_))
      Multimodal.imageNearDupPairs(hashes, maxHamming = 12)
        .orderBy(col("id1"), col("id2"))
    }),

    // M6: DCT perceptual hash (pHash) per image — the production image
    // signature next to m3's aHash: real decode, 32×32 gray, StrictMath
    // DCT-II, mean-thresholded 8×8 low-frequency block. Golden-parquet
    // oracle (DuckDB can't decode PNGs; the hash is bit-deterministic —
    // fdlibm cosines, fixed-order IEEE sums).
    "m6_phash" -> ((s, dir) => {
      Multimodal.imagePHashes(
          Multimodal.gradientImagesFromDocuments(Catalog.documents(s, dir)))
        .orderBy(col("media_id"))
    }),

    // M8: image dedup END-TO-END — pHash signatures → banded near-dup
    // candidates (m4 machinery over the DCT hash) → exact Hamming verify
    // → connected components → canonical pick (min media_id = the
    // component id; singletons keep themselves). The oracle is NOT an
    // output golden: DuckDB recomputes banding, Hamming, and the CC
    // reachability from the m6 hash golden independently (xor/bit_count
    // agree with the JVM on 64-bit two's complement).
    "m8_image_dedup" -> ((s, dir) => {
      // pinned (r12): the hash frame feeds the bucket-size aggregate,
      // BOTH sides of the band self-join and the final canonical-pick
      // join, and Catalyst re-evaluates the subtree per reference — the
      // subtree is the PNG-synth + imageio-decode + DCT codec UDF, the
      // single most expensive per-row kernel in the query (measured 4.2 s
      // with 3-4 codec evaluations; pinned 2.3 s). One (media_id, phash)
      // row per image — cheap to materialize, the d4/t36 precedent.
      val hashes = Multimodal.imagePHashes(
        Multimodal.gradientImagesFromDocuments(Catalog.documents(s, dir)))
        .transform(Pin.truncate(_))
      val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 12,
          hashCol = "phash")
        .select(col("id1").as("doc1"), col("id2").as("doc2"))
      val comps = Dedup.connectedComponents(pairs, pairsDistinct = true)
        .withColumnRenamed("node", "media_id")
      hashes.select(col("media_id"))
        .join(comps, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("component"), col("media_id")).as("component"))
        .withColumn("keep",
          (col("media_id") === col("component")).cast("long"))
        .orderBy(col("media_id"))
    }),

    // M9F: constellation fingerprints over the tone-mixture DEDUP fixture
    // (the square-wave fixture is fingerprint-degenerate — every clip
    // lands one fp; the tone mixture scatters groups across 16^8 fps).
    // Golden-parquet oracle like m7's (DuckDB can't decode WAVs; the fp is
    // bit-deterministic: StrictMath trig, fixed-order IEEE sums). m9's
    // oracle recomputes the dedup from THIS golden, so a drifted live
    // fingerprint fails here first.
    "m9f_tone_fingerprint" -> ((s, dir) => {
      Multimodal.audioFingerprints(
          Multimodal.toneAudioFromDocuments(Catalog.documents(s, dir)))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // M9: audio dedup END-TO-END — the m8 composition at the audio
    // modality: constellation fingerprints → shared-fp bucket candidates
    // (d2 LSH shape, one shuffle, window-gated buckets) → containment
    // verify (shared distinct fps / smaller clip's fp count — re-rips may
    // be truncated) → connected components → canonical pick (min media_id
    // = component id; singletons keep themselves). Oracle is NOT an
    // output golden: DuckDB recomputes buckets, containment, and CC
    // reachability from the m9f fingerprint golden independently.
    "m9_audio_dedup" -> ((s, dir) => {
      // pinned (r12): same re-evaluation hazard as m8 — the WAV-synth +
      // FFT-constellation kernel feeds the bucket gate, both self-join
      // sides and the final distinct, so unpinned it decodes every clip
      // 3-4×. One (media_id, frame_idx, fp) row per peak — bounded.
      val fps = Multimodal.audioFingerprints(
        Multimodal.toneAudioFromDocuments(Catalog.documents(s, dir)))
        .transform(Pin.truncate(_))
      val pairs = Multimodal.audioNearDupPairs(fps,
          minShared = 1, minContainment = 0.8)
        .select(col("id1").as("doc1"), col("id2").as("doc2"))
      val comps = Dedup.connectedComponents(pairs, pairsDistinct = true)
        .withColumnRenamed("node", "media_id")
      fps.select(col("media_id")).distinct()
        .join(comps, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("component"), col("media_id")).as("component"))
        .withColumn("keep",
          (col("media_id") === col("component")).cast("long"))
        .orderBy(col("media_id"))
    }),

    // T36: NEAR-decontamination — the fuzzy rung above t10's exact
    // shingle overlap: paraphrased/perturbed benchmark text shares few
    // exact shingle HITS but still collides in MinHash band space, so
    // candidates come from train×bench LSH band collisions (the d2
    // generator, cross-sided like d22's ingest screen) and each
    // candidate pair is VERIFIED with exact 3-gram Jaccard — precision
    // matters when the verdict deletes training data. Output per train
    // doc: candidate count, max verified Jaccard, contaminated flag.
    // Shape at 100 TB: pairs are LSH-bounded with a per-side megabucket
    // guard (hot band signatures drop, mirrored in the oracle's QUALIFY),
    // join strategies are AQE-chosen from checkpointed sizes — never a
    // forced broadcast of a candidate-bounded frame — and shingle sets
    // are computed once per doc appearing in any pair (semi-join prune,
    // the d4 lesson).
    "t36_near_decontaminate" -> ((s, dir) => {
      // core lives in operators/Decontaminate (shared with the curation
      // apps' contamGate=fuzzy mode); plan-discipline notes there
      val docs = Catalog.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val agg = graft.operators.Decontaminate.fuzzyScores(train, bench)
      train.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bench_candidates"), lit(0L)).as("n_bench_candidates"),
          coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
          (coalesce(col("max_jaccard"), lit(0.0)) >= 0.5).cast("int").as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // M10F: fingerprints of the query clips (per-group re-rips at a
    // different length/gain) — the m9f-style golden the m10 oracle
    // recomputes from.
    "m10f_query_fingerprint" -> ((s, dir) => {
      Multimodal.audioFingerprints(
          Multimodal.toneQueriesFromDocuments(Catalog.documents(s, dir)))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // M10: audio search — the retrieval half of the Wang ISMIR'03
    // constellation pipeline (m7 fingerprints, m9 dedup, THIS is match):
    // query frame fps equi-join the index, matching pairs vote on the
    // (query, clip, time-offset) diagonal, top vote per query wins.
    // Oracle recomputes join + votes + top-1 from the m9f (index) and
    // m10f (query) fingerprint goldens independently.
    "m10_audio_match" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      // pinned (r13): audioMatches consumes the index TWICE (the
      // maxBucket fp-count gate and the vote join), and unpinned each
      // reference re-runs the WAV-synth + FFT constellation kernel over
      // every clip — the exact m8/m9 re-evaluation hazard. One
      // (media_id, frame_idx, fp) row per peak — bounded. The query
      // side feeds a single consumer, so it needs no pin.
      val index = Multimodal.audioFingerprints(
        Multimodal.toneAudioFromDocuments(docs))
        .transform(Pin.truncate(_))
      val queries = Multimodal.audioFingerprints(
        Multimodal.toneQueriesFromDocuments(docs))
      Multimodal.audioMatches(queries, index)
        .orderBy(col("query_id"))
    }),

    // D23: oriented span containment (quote/boilerplate detection) — the
    // asymmetric signal Jaccard near-dup misses: a doc whose winnowed
    // fingerprints are mostly CONTAINED in a partner is a quote/template
    // even when the union-normalized similarity is tiny. Candidates from
    // the d18 bucket join (never all-pairs), normalized by each side's
    // own selection count.
    "d23_span_containment" -> ((s, dir) => {
      Dedup.spanContainmentPairs(Catalog.documents(s, dir),
          k = 24, w = 9, minShared = 2, minContainment = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // T35: CCNet-style perplexity filtering (Wenzek et al., LREC 2020 —
    // THE production corpus-quality filter): score every document by the
    // average negative log-likelihood of its word bigrams under an
    // add-one-smoothed bigram LM trained on the corpus' own reference
    // slice (lang='en'), keep-gate with an integer cross-multiplied
    // average (never a float compare). Per-bigram log-probs fixed-pointed
    // to 1e-6 BIGINT (the t24 convention) so per-doc sums are
    // summation-order-exact in both engines. Plan: TWO explode passes —
    // the full corpus for scoring, and the (pre-filtered) reference slice
    // for LM training (the slice filter precedes its own explode; see the
    // inner comment) — the reference counts aggregate map-side on the
    // gram key, the head-token counts derive from the (small) bigram-
    // count table rather than a second stream pass, scoring is two
    // gram-keyed hash joins + a doc-keyed aggregate, and lang joins back
    // from docs at the end — linear end-to-end, nothing quadratic, no
    // driver state.
    "t35_perplexity_filter" -> ((s, dir) => {
      // LM + scoring live in operators/PerplexityGate (shared with the
      // curation apps' qualityGate=perplexity mode); keep = avg(-logp) <=
      // 3.45 nats (e^3.45 ≈ 31.5 perplexity — just over the corpus
      // median, so the rare-bigram tail actually drops: 181/5000 at
      // sf0.1), cross-multiplied so the gate is integer-exact
      val docs = Catalog.documents(s, dir)
      val scored = graft.operators.PerplexityGate
        .nllScores(docs, col("lang") === "en")
      docs.select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("sum_logp_e6"), lit(0L)).as("sum_logp_e6"),
          graft.operators.PerplexityGate.keepExpr(
              coalesce(col("n_bigrams"), lit(0L)),
              coalesce(col("sum_logp_e6"), lit(0L)))
            .cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // T40: CCNet head/middle/tail corpus partitioning (Wenzek LREC'20
    // §4.3) — the step AFTER t35's keep/drop gate in the real pipeline:
    // per-language perplexity TERTILES, so a training run can take the
    // head slice, mix head+middle, or mine the tail for diversity.
    // avg NLL is the integer floor-division of the t35 fixed-point sums
    // (both engines divide identical positive longs — no float trap);
    // ntile(3) over (avg, doc_id) is a total order, so the split is
    // deterministic. The per-lang window is an exact global sort — the
    // oracle-checkable form; at 100 TB the same split comes from the
    // a22 binned-selection quantile machinery with these semantics as
    // its parity target. Unscoreable docs (no bigrams) get no bucket,
    // exactly as CCNet leaves unscored text out of the split.
    // No final ORDER BY (the d6/d11 convention): the range partitioner's
    // sampling pass re-executes the LM+window subtree just to order rows
    // the hash compare ignores — measured 18.7 → 15.3 s at 100×. The residual over t35's
    // ~10 s is the ntile window itself: partitionBy(lang) caps sort
    // parallelism at the language count — the exact-form cost the a22
    // binned-selection path exists to avoid.
    "t40_ppl_buckets" -> ((s, dir) => {
      val docs = Catalog.documents(s, dir)
      val scored = graft.operators.PerplexityGate
        .nllScores(docs, col("lang") === "en")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("avg_nll_e6"), col("doc_id"))
      docs.select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"))
        .filter(col("n_bigrams") > 0)
        .withColumn("avg_nll_e6",
          expr("(-sum_logp_e6) div n_bigrams"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_nll_e6"),
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            ntile(3).over(w)).as("bucket"))
    }),

    // M7: spectral peak fingerprint (Shazam-style constellation frame
    // signature) over the real WAV decode — per 256-sample frame, the
    // argmax DFT bin of each of 8 bands packed into one long. Gain-
    // invariant by construction (peak positions, not magnitudes): the
    // fixture's clips differ in amplitude per media_id but share the
    // period-8 square wave, so every frame lands the same fingerprint —
    // which IS the production property under test. Golden-parquet oracle
    // (DuckDB can't decode WAVs; StrictMath trig + fixed-order sums make
    // the value bit-deterministic).
    "m7_audio_fingerprint" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Catalog.documents(s, dir))
      Multimodal.audioFingerprints(media.filter(col("kind") === "audio"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // M5: real audio decode — WAV payloads through javax.sound.sampled,
    // features content-checked against the synthetic fixture's analytic
    // parameterization (square wave → RMS is exactly the amplitude;
    // every value integer-exact, so no float tolerance games).
    "m5_audio_features" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Catalog.documents(s, dir))
      // same pre-barrier kind filter as m1 (see the note there)
      Multimodal.extractFeatures(media.filter(col("kind") === "audio"))
        .select(col("media_id"), col("kind"), col("channels"),
          element_at(col("features"), 1).cast("long").as("sample_rate"),
          element_at(col("features"), 2).cast("long").as("n_samples"),
          element_at(col("features"), 3).cast("long").as("rms"))
        .orderBy(col("media_id"))
    }),
  )

  // ---------------------------------------------------------------- oracles

  /** v4 and v10 share ONE oracle: the persisted-index path must be
    * output-identical to the fused in-session IVF probe search.
    */
  /** The IVF probe-and-score CTE chain (queries = vec_id < 10, nProbe=2),
    * ending at `scored`; shared by v4/v10's top-k select and v11's recall
    * evaluation.
    */
  private val IvfScoredCtes =
    """WITH centl AS (
      |  SELECT label AS part, i,
      |    ROUND(AVG(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)), 6) AS c
      |  FROM embeddings CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
      |cent AS (SELECT part, list(c ORDER BY i) AS cvec FROM centl GROUP BY part),
      |centn AS (SELECT part, cvec, sqrt(list_sum(list_transform(cvec, x -> x*x))) AS cnrm
      |          FROM cent),
      |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |      FROM embeddings WHERE vec_id < 10),
      |qn AS (SELECT query_id, qv, sqrt(list_sum(list_transform(qv, x -> x*x))) AS qnrm FROM q),
      |psim AS (
      |  SELECT query_id, part, qv, qnrm,
      |    ROUND(list_sum(list_transform(range(1, 65), i -> qv[i]*cvec[i]))/(qnrm*cnrm), 6) AS csim
      |  FROM qn CROSS JOIN centn),
      |probes AS (
      |  SELECT query_id, part, qv, qnrm FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, part) AS pr
      |    FROM psim) WHERE pr <= 2),
      |cn AS (
      |  SELECT vec_id, label AS part, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      |  FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings)),
      |scored AS (
      |  SELECT p.query_id, cn.part, cn.vec_id,
      |    ROUND(list_sum(list_transform(range(1, 65), i -> p.qv[i]*cn.v[i]))/(p.qnrm*cn.nrm), 6) AS sim
      |  FROM probes p JOIN cn ON cn.part = p.part AND cn.vec_id <> p.query_id)""".stripMargin

  private val IvfTopKOracleSql = IvfScoredCtes +
    """
      |SELECT query_id, rank, CAST(part AS BIGINT) AS part, vec_id, sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |  FROM scored) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val RecallEvalOracleSql = IvfScoredCtes + ",".stripMargin +
    """
      |approx AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |    FROM scored) t WHERE rank <= 5),
      |bscored AS (
      |  SELECT qn.query_id, cn.vec_id,
      |    ROUND(list_sum(list_transform(range(1, 65), i -> qn.qv[i]*cn.v[i]))/(qn.qnrm*cn.nrm), 6) AS sim
      |  FROM qn JOIN cn ON cn.vec_id <> qn.query_id),
      |exact AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      |    FROM bscored) t WHERE rank <= 5)
      |SELECT e.query_id, COUNT(*) AS n_exact,
      |  COUNT(a.vec_id) AS n_hits,
      |  ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall
      |FROM exact e LEFT JOIN approx a
      |  ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** Shared SQL fragments (DuckDB 1.0): tokens / shingles / bit-of-md5.
    * `private[queries]` so sibling oracle modules (StreamingQueries' st7)
    * can reuse the exact same cross-engine fragments.
    */
  private[queries] val toksSql =
    "list_filter(string_split(text, ' '), x -> x <> '')"

  /** t33/t34 oracle core: the hashed-NB-mean classifier with the argmax
    * fold UNROLLED into chained CTEs — generated from the same sorted
    * class list as ml.LangClassifier so the fold order (and therefore
    * the tiebreak) is structurally identical. HUGEINT carries the cross
    * products (the Spark side uses decimal(38,0) for the same values).
    * `trainPred` (over f's doc_id) selects the training slice: weights,
    * class totals, and vocabulary come from it alone; every doc is
    * scored via a LEFT join (features unseen in training contribute
    * smoothing mass only — coalesce-0), and `tail` renders the final
    * SELECT over `per` = (doc_id, lang, is_train, pred_lang, correct).
    */
  private def langClassifierSqlCore(trainPred: String, tail: String): String = {
    val classes = Seq("de", "en", "es", "fr", "zh")
    val dims = 262144
    val nCols = classes.map(c =>
      s"SUM(CASE WHEN lang = '$c' THEN 1 ELSE 0 END) AS n_$c").mkString(", ")
    val tCols = classes.map(c => s"SUM(n_$c) AS t_$c").mkString(", ")
    val sumCols = classes.map(c =>
      s"SUM(COALESCE(w.n_$c, 0)) AS sum_$c").mkString(", ")
    val numDen = classes.map(c =>
      s"sum_$c + n_toks AS num_$c, t_$c + v AS den_$c").mkString(", ")
    val fold = classes.tail.zipWithIndex.map { case (c, i) =>
      val (pc, pn, pd) =
        if (i == 0) (s"'${classes.head}'", s"num_${classes.head}", s"den_${classes.head}")
        else (s"c$i", s"num$i", s"den$i")
      val j = i + 1
      val win = s"num_$c::HUGEINT * $pd > $pn::HUGEINT * den_$c"
      s"""b$j AS (
         |  SELECT *,
         |    CASE WHEN $win THEN '$c' ELSE $pc END AS c$j,
         |    CASE WHEN $win THEN num_$c ELSE $pn END AS num$j,
         |    CASE WHEN $win THEN den_$c ELSE $pd END AS den$j
         |  FROM b${if (j == 1) "0" else i.toString})""".stripMargin
    }.mkString(",\n")
    val last = s"c${classes.length - 1}"
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest($toksSql) AS t FROM documents),
       |f AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(t), 1, 8))::BIGINT % $dims AS h
       |  FROM tok),
       |w AS (SELECT h, $nCols FROM f WHERE $trainPred GROUP BY h),
       |tot AS (SELECT $tCols, COUNT(*) AS v FROM w),
       |pd AS (
       |  SELECT f.doc_id, $sumCols, COUNT(*) AS n_toks
       |  FROM f LEFT JOIN w USING (h) GROUP BY f.doc_id),
       |b0 AS (SELECT pd.doc_id, $numDen FROM pd CROSS JOIN tot),
       |$fold,
       |per AS (
       |  SELECT d.doc_id, d.lang,
       |    CASE WHEN ${trainPred.replace("doc_id", "d.doc_id")} THEN 1 ELSE 0 END AS is_train,
       |    COALESCE(b.$last, 'und') AS pred_lang,
       |    CASE WHEN d.lang = COALESCE(b.$last, 'und') THEN 1 ELSE 0 END AS correct
       |  FROM documents d LEFT JOIN b${classes.length - 1} b ON b.doc_id = d.doc_id)
       |$tail""".stripMargin
  }

  private val langClassifierSql: String = langClassifierSqlCore(
    trainPred = "TRUE",
    tail = """SELECT doc_id, lang, pred_lang, correct FROM per ORDER BY doc_id""")

  /** The t16 content-addressed split bucket in DuckDB — identical to
    * `TextFunctions.sampleBucket(doc_id)`.
    */
  private val bucketSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"

  private val langHoldoutSql: String = langClassifierSqlCore(
    trainPred = s"$bucketSql < 80",
    tail = """SELECT CASE WHEN is_train = 1 THEN 'train' ELSE 'holdout' END AS split,
             |  lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(correct) AS BIGINT) AS n_correct
             |FROM per GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)

  /** Number of BPE merges the t31/t32 oracles unroll — shared with the
    * Spark side's `nMerges` so both engines learn the same table.
    */
  private[queries] val BpeOracleMerges = 12

  /** The BpeLearn loop UNROLLED as DuckDB CTEs: per rank k, p<k> counts
    * adjacent symbol pairs (freq-weighted), b<k> is the deterministic
    * argmax (a sentinel row keeps exhausted iterations well-defined — its
    * '/////' pattern cannot occur in a symbol string), s<k> applies the
    * merge as one literal replace. Every CTE is MATERIALIZED: s<k>
    * references s<k−1> three times, so DuckDB's default inlining would
    * expand the chain 3^n-fold (observed as an fd-exhaustion blowup).
    * Semantics identical to [[graft.operators.BpeLearn.learnMerges]],
    * which runs the same loop distributed.
    */
  private[queries] def bpeLearnCtesSql(n: Int): String = {
    val head =
      s"""words AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest($toksSql) AS w FROM documents)
        |  GROUP BY w),
        |s0 AS MATERIALIZED (
        |  SELECT regexp_replace(replace(w, '/', ''), '(.)', '/\\1/', 'g') AS syms, freq
        |  FROM words WHERE len(replace(w, '/', '')) > 0)""".stripMargin
    val steps = (1 to n).map { k =>
      s""",
        |p$k AS MATERIALIZED (
        |  SELECT pr[1] AS lhs, pr[2] AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, unnest([[l[i], l[i+1]] for i in range(1, len(l))]) AS pr
        |        FROM (SELECT str_split(trim(syms, '/'), '//') AS l, freq FROM s${k - 1}))
        |  GROUP BY 1, 2),
        |b$k AS MATERIALIZED (
        |  SELECT $k AS rank, lhs, rhs, lhs || rhs AS merged, cnt FROM (
        |    SELECT lhs, rhs, cnt FROM p$k
        |    UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
        |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |s$k AS MATERIALIZED (
        |  SELECT replace(syms, (SELECT '/' || lhs || '//' || rhs || '/' FROM b$k),
        |                       (SELECT '/' || merged || '/' FROM b$k)) AS syms, freq
        |  FROM s${k - 1})""".stripMargin
    }.mkString
    head + steps
  }

  /** Apply the LEARNED chain to `wordExpr`: the t30 replace-chain, with
    * the b<k> winners riding in as scalar-subquery patterns instead of
    * literals. Must be used in a query whose WITH clause includes
    * [[bpeLearnCtesSql]] for the same `n`.
    */
  private[queries] def bpeLearnedApplySql(wordExpr: String, n: Int): String =
    (1 to n).foldLeft(
      s"regexp_replace(replace($wordExpr, '/', ''), '(.)', '/\\1/', 'g')") { (acc, k) =>
      s"""replace($acc,
        |      (SELECT '/' || lhs || '//' || rhs || '/' FROM b$k),
        |      (SELECT '/' || merged || '/' FROM b$k))""".stripMargin
    }

  private[queries] def shinglesSql(toks: String) =
    s"[array_to_string($toks[i:i+2], ' ') for i in range(1, len($toks)-1)]"

  /** The minhash permutation list, generated from the SAME constants the
    * Spark side uses (Dedup.Perms / Dedup.HashMod) so the two engines
    * compute identical signatures from one md5 per shingle.
    */
  /** simhash CTE chain (tok → h → votes → sh): doc_id + the 32-bit
    * signature, bit-identical to `Dedup.simhashOf` (same per-token md5
    * nibble votes). Shared by the d13 oracle; d3/d6/d12 predate it and
    * inline the same text.
    */
  private val simhashShCtes: String =
    s"""tok AS (
       |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
       |h AS (SELECT doc_id, md5(t) AS h FROM tok),
       |votes AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN ((CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) >> (b % 4)) & 1 = 1
       |        THEN 1 ELSE -1 END) AS vote
       |  FROM (SELECT doc_id, h, b, ascii(substr(h, CAST(b // 4 AS INT) + 1, 1)) AS a
       |        FROM h CROSS JOIN range(0, 32) r(b))
       |  GROUP BY doc_id, b),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
       |  FROM votes GROUP BY doc_id)""".stripMargin

  /** MinHash list SQL at `n` permutations — the SAME computed (a,b)
    * constants as `Dedup.permsFor(n)`, inlined.
    */
  private def minhashListSqlFor(n: Int): String = {
    val m = graft.operators.Dedup.HashMod
    graft.operators.Dedup.permsFor(n)
      .map { case (a, b) => s"list_min([($a * h + $b) % $m for h in hs])" }
      .mkString("[", ", ", "]")
  }

  private val contentHashSql: String =
    s"[('0x' || substr(md5(s), 1, 15))::BIGINT % ${graft.operators.Dedup.HashMod} for s in sh]"

  /** bands CTE at an arbitrary (numPerms, numBands) banding (expects a
    * CTE `src(doc_id, sh)`, default `sh`; emits `out` + `<out>_mh`, so
    * two independent bandings can coexist in one oracle — c5w bands the
    * survivor∪bench slice next to ccSqlOn's corpus banding); mirrors
    * `Dedup.lshBands`.
    */
  private def bandsSqlFor(numPerms: Int, numBands: Int,
      src: String = "sh", out: String = "bands"): String = {
    val rows = numPerms / numBands
    val sig = (1 to rows).map(j => s"CAST(mhs[b*$rows+$j] AS VARCHAR)")
      .mkString(" || '|' || ")
    s"""${out}_mh AS (
       |  SELECT doc_id, ${minhashListSqlFor(numPerms)} AS mhs
       |  FROM (SELECT doc_id, $contentHashSql AS hs FROM $src WHERE len(sh) >= 1)),
       |$out AS (
       |  SELECT doc_id, b, $sig AS sig
       |  FROM ${out}_mh CROSS JOIN range(0, $numBands) r(b))""".stripMargin
  }

  /** bands CTE shared by d2/d4/st7 (expects a CTE `sh(doc_id, sh)`). */
  private[queries] val bandsSql: String =
    bandsSqlFor(graft.operators.Dedup.NumPerms, graft.operators.Dedup.NumBands)

  /** CTE chain shared by d7/d8: LSH bands → candidate pairs → symmetric
    * edge list → recursive min-label closure → per-node component. The
    * recursive CTE is the oracle-side stand-in for the Spark side's
    * large-star/small-star contraction (identical fixpoint).
    */
  /** LSH-bands → candidate pairs → connected components over `base`
    * (any CTE/table with doc_id + text). `ccSql` keeps the historical
    * whole-corpus form; `ccSqlOn` lets pipeline oracles run the same
    * resolution over a filtered survivor set (c5_curate_report).
    */
  private def ccSqlOn(base: String): String =
    s"""sh AS (
       |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM $base),
       |$bandsSql,
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |edges AS (SELECT doc1 AS s, doc2 AS d FROM pairs UNION SELECT doc2, doc1 FROM pairs),
       |reach(n, r) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n),
       |cc AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n)""".stripMargin

  private val ccSql: String = ccSqlOn("documents")

  /** The composite quality score (TextFunctions.qualityScore) as CTEs:
    * q → m → scored(doc_id, lang, quality). Shared by the e1 and c5
    * oracles so the SQL mirror of the scoring formula lives once.
    */
  private val qualityScoredSql: String =
    s"""q AS (
       |  SELECT doc_id, lang, $toksSql AS toks, text FROM documents),
       |m AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS DOUBLE) AS n,
       |    CASE WHEN len(toks) > 0
       |      THEN list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks)
       |      ELSE 0 END AS mean_len,
       |    CASE WHEN len(toks) > 0
       |      THEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in',
       |        'der','die','das','und','ist','zu','ein','el','la','de','y','es','en','un',
       |        'le','et','est'))) AS DOUBLE) / len(toks)
       |      ELSE 0 END AS stop
       |  FROM q),
       |scored AS (
       |  SELECT doc_id, lang,
       |    ROUND(least(n/50.0, 1.0)*0.4 +
       |          (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END)*0.3 +
       |          least(stop*5.0, 1.0)*0.3, 6) AS quality
       |  FROM m)""".stripMargin

  val oracles: Map[String, String] = Map(
    "t11_pii_redact" ->
      """WITH b AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1 call 555-' ||
        |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(body, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(body, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(body,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g')) AS redacted_fp
        |FROM b ORDER BY doc_id""".stripMargin,

    "t12_bm25" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |dl AS (
        |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  ROUND(SUM(
        |    ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |    * (tf.tf * (1.2 + 1.0))
        |    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS bm25
        |FROM tf
        |JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "t22_tfidf_terms" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |  GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    ROUND(tf.tf * (ln((nd.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0), 6)
        |      AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
        |ranked AS (
        |  SELECT doc_id, term, tfidf, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tfidf FROM ranked
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "t13_lm_score" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
        |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt)
        |SELECT toks.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  ROUND(AVG(ln(CAST(cnt.c AS DOUBLE) / CAST(tot.total AS DOUBLE))), 6)
        |    AS avg_logprob
        |FROM toks JOIN cnt USING (term) CROSS JOIN tot
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "d9_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |cidx AS (
        |  SELECT doc_id, toks,
        |    unnest(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS c
        |  FROM t WHERE len(toks) > 0),
        |ch AS (
        |  SELECT doc_id, c,
        |    md5(array_to_string(toks[c*10+1 : c*10+10], ' ')) AS fp
        |  FROM cidx),
        |canon AS (
        |  SELECT fp, doc_id AS cdoc, c AS cc FROM (
        |    SELECT fp, doc_id, c,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, c) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT ch.doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN ch.doc_id <> canon.cdoc OR ch.c <> canon.cc THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  ROUND(CAST(SUM(CASE WHEN ch.doc_id <> canon.cdoc OR ch.c <> canon.cc THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_frac
        |FROM ch JOIN canon ON ch.fp = canon.fp
        |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,

    "d22_incremental_dedup" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM documents),
        |$bandsSql,
        |split AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 >= 80
        |      AS is_new
        |  FROM documents),
        |fps AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |oldfp AS (
        |  SELECT DISTINCT fp FROM fps JOIN split USING (doc_id) WHERE NOT is_new),
        |exact_hit AS (
        |  SELECT DISTINCT f.doc_id FROM fps f
        |  JOIN split s USING (doc_id) JOIN oldfp o USING (fp)
        |  WHERE s.is_new),
        |oldbands AS (
        |  SELECT DISTINCT b, sig FROM bands JOIN split USING (doc_id)
        |  WHERE NOT is_new),
        |near_hit AS (
        |  SELECT DISTINCT bands.doc_id FROM bands
        |  JOIN split USING (doc_id) JOIN oldbands USING (b, sig)
        |  WHERE is_new)
        |SELECT s.doc_id,
        |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'fresh' END AS verdict
        |FROM split s
        |LEFT JOIN exact_hit e ON e.doc_id = s.doc_id
        |LEFT JOIN near_hit n ON n.doc_id = s.doc_id
        |WHERE s.is_new ORDER BY s.doc_id""".stripMargin,

    "t30_bpe_encode" -> {
      // the SAME merge chain as TextFunctions.bpeSymbols, rendered as
      // nested DuckDB replace() calls from the one shared merge list
      // '/' is deleted from the word first — the delimiter-collision
      // normalization TextFunctions.bpeSymbols applies (see its doc).
      val chain = graft.functions.TextFunctions.BpeMerges.foldLeft(
        "regexp_replace(replace(w, '/', ''), '(.)', '/\\1/', 'g')") { case (acc, (a, b)) =>
        s"replace($acc, '/$a//$b/', '/$a$b/')"
      }
      s"""WITH w AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
        |e AS (
        |  SELECT doc_id, len(w) AS nc,
        |    (len($chain) - len(replace($chain, '/', ''))) // 2 AS ns
        |  FROM w)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  CAST(SUM(ns) AS BIGINT) AS n_subwords,
        |  ROUND(CAST(SUM(ns) AS DOUBLE) / SUM(nc), 6) AS compression
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "t31_bpe_learn" ->
      s"""WITH ${bpeLearnCtesSql(BpeOracleMerges)}
        |SELECT rank, lhs, rhs, merged, cnt FROM (
        |${(1 to BpeOracleMerges).map(k => s"  SELECT * FROM b$k").mkString(" UNION ALL\n")}
        |) WHERE cnt > 0 ORDER BY rank""".stripMargin,

    "t32_bpe_budget_mix" -> {
      val applied = bpeLearnedApplySql("w", BpeOracleMerges)
      s"""WITH ${bpeLearnCtesSql(BpeOracleMerges)},
        |wt AS MATERIALIZED (
        |  SELECT doc_id, unnest($toksSql) AS w FROM documents),
        |enc AS MATERIALIZED (
        |  SELECT doc_id, CAST(SUM(
        |    (len($applied) - len(replace($applied, '/', ''))) // 2) AS BIGINT)
        |    AS n_bpe_tokens
        |  FROM wt GROUP BY doc_id),
        |pd AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(COALESCE(e.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
        |  FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id),
        |m AS (
        |  SELECT doc_id, lang, n_bpe_tokens,
        |    CAST(COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM pd)
        |SELECT doc_id, lang, n_bpe_tokens, cum_before FROM m
        |WHERE cum_before < CASE WHEN lang = 'en' THEN 12000
        |                        WHEN lang = 'de' THEN 4500 ELSE 7500 END
        |ORDER BY doc_id""".stripMargin
    },

    "t29_dedup_transform" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |cidx AS (
        |  SELECT doc_id, toks, unnest(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS c
        |  FROM t WHERE len(toks) > 0),
        |ch AS (
        |  SELECT doc_id, c,
        |    array_to_string(toks[CAST(c*10+1 AS INT) : CAST(c*10+10 AS INT)], ' ') AS chunk
        |  FROM cidx),
        |k AS (
        |  SELECT doc_id, c, chunk,
        |    row_number() OVER (PARTITION BY doc_id, chunk ORDER BY c) AS rn
        |  FROM ch)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  ROUND(CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
        |    AS kept_frac,
        |  md5(string_agg(chunk, ' ' ORDER BY c) FILTER (rn = 1)) AS cleaned_fp
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d21_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos0,
        |    toks[CAST(i + 1 AS INT)] AS tok, len(toks) AS n, toks
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t)),
        |b AS (
        |  SELECT doc_id, pos0, tok,
        |    CASE WHEN pos0 + 4 <= n AND substr(md5(array_to_string(
        |        toks[CAST(pos0 + 1 AS INT) : CAST(pos0 + 4 AS INT)], ' ')), 1, 1) = '0'
        |      THEN 1 ELSE 0 END AS b0
        |  FROM tok),
        |bnd AS (
        |  SELECT doc_id, pos0, tok,
        |    COALESCE(lag(b0, 3) OVER (PARTITION BY doc_id ORDER BY pos0), 0) AS bnd_end
        |  FROM b),
        |cidx AS (
        |  SELECT doc_id, pos0, tok,
        |    COALESCE(SUM(bnd_end) OVER (PARTITION BY doc_id ORDER BY pos0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        |  FROM bnd),
        |ch AS (
        |  SELECT doc_id, chunk_idx,
        |    md5(string_agg(tok, ' ' ORDER BY pos0)) AS fp
        |  FROM cidx GROUP BY 1, 2),
        |canon AS (
        |  SELECT fp, doc_id AS cdoc, chunk_idx AS cc FROM (
        |    SELECT fp, doc_id, chunk_idx,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT ch.doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN ch.doc_id <> canon.cdoc OR ch.chunk_idx <> canon.cc
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  ROUND(CAST(SUM(CASE WHEN ch.doc_id <> canon.cdoc OR ch.chunk_idx <> canon.cc
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_frac
        |FROM ch JOIN canon ON ch.fp = canon.fp
        |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,

    "c5_curate_report" ->
      s"""WITH RECURSIVE
        |$qualityScoredSql,
        |base0 AS (
        |  SELECT d.doc_id, d.text, d.n_chars,
        |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
        |    (d.doc_id % 50 = 0) AS is_bench,
        |    (s.quality < 0.5) AS low_quality
        |  FROM documents d JOIN scored s ON s.doc_id = d.doc_id),
        |s12 AS (SELECT * FROM base0 WHERE NOT is_bench AND NOT low_quality),
        |fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM s12),
        |fpc AS (SELECT f, MIN(doc_id) AS fp_canon FROM fp GROUP BY f),
        |exact_dups AS (
        |  SELECT fp.doc_id FROM fp JOIN fpc USING (f)
        |  WHERE fp.doc_id <> fpc.fp_canon),
        |s3 AS (
        |  SELECT s12.doc_id, s12.text, s12.n_chars FROM s12
        |  ANTI JOIN exact_dups ON s12.doc_id = exact_dups.doc_id),
        |${ccSqlOn("s3")},
        |wc AS (
        |  SELECT s3.doc_id, COALESCE(cc.component, s3.doc_id) AS component,
        |    s3.n_chars
        |  FROM s3 LEFT JOIN cc ON cc.node = s3.doc_id),
        |sel AS (
        |  SELECT doc_id, first_value(doc_id) OVER (
        |    PARTITION BY component ORDER BY n_chars DESC, doc_id) AS canonical_doc
        |  FROM wc),
        |near_dups AS (SELECT doc_id FROM sel WHERE doc_id <> canonical_doc),
        |s4 AS (
        |  SELECT s3.doc_id, s3.text FROM s3
        |  ANTI JOIN near_dups ON s3.doc_id = near_dups.doc_id),
        |dsh AS (
        |  SELECT DISTINCT doc_id, unnest(${shinglesSql(toksSql)}) AS shingle
        |  FROM (SELECT doc_id, text FROM s4) d),
        |bsh AS (
        |  SELECT DISTINCT unnest(${shinglesSql(toksSql)}) AS shingle
        |  FROM documents WHERE doc_id % 50 = 0),
        |nsh AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
        |ov AS (
        |  SELECT dsh.doc_id, COUNT(*) AS n_overlap
        |  FROM dsh JOIN bsh USING (shingle) GROUP BY 1),
        |contam AS (
        |  SELECT nsh.doc_id FROM nsh LEFT JOIN ov USING (doc_id)
        |  WHERE COALESCE(ov.n_overlap, 0) >= nsh.n_sh * 0.5),
        |tagged AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CASE WHEN b.is_bench THEN 'benchmark'
        |         WHEN b.low_quality THEN 'quality'
        |         WHEN b.doc_id IN (SELECT doc_id FROM exact_dups) THEN 'exact_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM near_dups) THEN 'near_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
        |         ELSE 'kept' END AS stage
        |  FROM base0 b)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM tagged GROUP BY stage ORDER BY stage""".stripMargin,

    // c5y: the c5 pipeline with stage 5 replaced by the t39 span-surgery
    // CTEs over the stage-4 survivors (3-gram grain, ±5 pad, keep-floor
    // 0.5). `contam` = survivors with kept_frac < 0.5; `srgk` = kept
    // docs that were excised, carrying the removed-token mass.
    "c5y_curate_report_surgery" ->
      s"""WITH RECURSIVE
        |$qualityScoredSql,
        |base0 AS (
        |  SELECT d.doc_id, d.text, d.n_chars,
        |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
        |    (d.doc_id % 50 = 0) AS is_bench,
        |    (s.quality < 0.5) AS low_quality
        |  FROM documents d JOIN scored s ON s.doc_id = d.doc_id),
        |s12 AS (SELECT * FROM base0 WHERE NOT is_bench AND NOT low_quality),
        |fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM s12),
        |fpc AS (SELECT f, MIN(doc_id) AS fp_canon FROM fp GROUP BY f),
        |exact_dups AS (
        |  SELECT fp.doc_id FROM fp JOIN fpc USING (f)
        |  WHERE fp.doc_id <> fpc.fp_canon),
        |s3 AS (
        |  SELECT s12.doc_id, s12.text, s12.n_chars FROM s12
        |  ANTI JOIN exact_dups ON s12.doc_id = exact_dups.doc_id),
        |${ccSqlOn("s3")},
        |wc AS (
        |  SELECT s3.doc_id, COALESCE(cc.component, s3.doc_id) AS component,
        |    s3.n_chars
        |  FROM s3 LEFT JOIN cc ON cc.node = s3.doc_id),
        |sel AS (
        |  SELECT doc_id, first_value(doc_id) OVER (
        |    PARTITION BY component ORDER BY n_chars DESC, doc_id) AS canonical_doc
        |  FROM wc),
        |near_dups AS (SELECT doc_id FROM sel WHERE doc_id <> canonical_doc),
        |s4 AS (
        |  SELECT s3.doc_id, s3.text FROM s3
        |  ANTI JOIN near_dups ON s3.doc_id = near_dups.doc_id),
        |s4n AS (SELECT doc_id, $toksSql AS toks,
        |          CAST(len($toksSql) AS BIGINT) AS n FROM s4),
        |bfp AS (
        |  SELECT DISTINCT md5(array_to_string(
        |    toks[CAST(p + 1 AS INT) : CAST(p + 3 AS INT)], ' ')) AS fp
        |  FROM (SELECT toks, unnest(range(len(toks) - 2)) AS p
        |        FROM (SELECT $toksSql AS toks FROM documents
        |              WHERE doc_id % 50 = 0) b
        |        WHERE len(toks) >= 3) z),
        |hp AS (SELECT doc_id, n, toks, unnest(range(n - 2)) AS p FROM s4n
        |       WHERE n >= 3),
        |hits AS (
        |  SELECT doc_id, n, p FROM (
        |    SELECT doc_id, n, p, md5(array_to_string(
        |      toks[CAST(p + 1 AS INT) : CAST(p + 3 AS INT)], ' ')) AS fp
        |    FROM hp) h
        |  WHERE fp IN (SELECT fp FROM bfp)),
        |iv AS (SELECT doc_id, GREATEST(p - 5, 0) AS s0, LEAST(p + 8, n) AS e0
        |       FROM hits),
        |ni AS (
        |  SELECT doc_id, s0, e0,
        |    CASE WHEN s0 > COALESCE(MAX(e0) OVER (
        |      PARTITION BY doc_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS f
        |  FROM iv),
        |sp AS (
        |  SELECT doc_id, isl, MIN(s0) AS s, MAX(e0) AS e
        |  FROM (SELECT doc_id, s0, e0, SUM(f) OVER (
        |          PARTITION BY doc_id ORDER BY s0, e0
        |          ROWS UNBOUNDED PRECEDING) AS isl FROM ni) z
        |  GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS rem
        |       FROM sp GROUP BY 1),
        |srg AS (
        |  SELECT s4n.doc_id, COALESCE(ag.rem, 0) AS rem,
        |    CASE WHEN s4n.n > 0
        |      THEN ROUND((s4n.n - COALESCE(ag.rem, 0))
        |             / CAST(s4n.n AS DOUBLE), 6)
        |      ELSE 1.0 END AS kept_frac
        |  FROM s4n LEFT JOIN ag ON ag.doc_id = s4n.doc_id),
        |contam AS (SELECT doc_id FROM srg WHERE kept_frac < 0.5),
        |tagged AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CASE WHEN b.is_bench THEN 'benchmark'
        |         WHEN b.low_quality THEN 'quality'
        |         WHEN b.doc_id IN (SELECT doc_id FROM exact_dups) THEN 'exact_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM near_dups) THEN 'near_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
        |         ELSE 'kept' END AS stage
        |  FROM base0 b),
        |srgk AS (
        |  SELECT doc_id, rem FROM srg
        |  WHERE rem > 0 AND doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT t.stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(srgk.doc_id) AS BIGINT) AS n_surgered,
        |  CAST(COALESCE(SUM(srgk.rem), 0) AS BIGINT) AS surgery_removed_tokens
        |FROM tagged t LEFT JOIN srgk ON srgk.doc_id = t.doc_id
        |GROUP BY t.stage ORDER BY t.stage""".stripMargin,

    // c5x: the c5 pipeline over documents ⋈ embeddings with SemDeDup as
    // the near-dup candidate generator. Only the K-Means fit/assign head
    // is golden-pinned (clusters CTE); the within-cluster cosine ≥ 0.35
    // gate (the v1 oracle's list_transform dot product, ROUND 6 — the
    // engine's pairSim; 0.35 is the d17/d20 fixture threshold), the
    // recursive-CTE connected components, the longest-member canonical
    // pick, the overlap contamination gate and the report are recomputed
    // from the raw tables.
    "c5x_curate_report_semantic" ->
      s"""WITH RECURSIVE
        |$qualityScoredSql,
        |emb AS (
        |  SELECT vec_id AS doc_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |base0 AS (
        |  SELECT d.doc_id, d.text, d.n_chars,
        |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
        |    (d.doc_id % 50 = 0) AS is_bench,
        |    (s.quality < 0.5) AS low_quality
        |  FROM documents d JOIN scored s ON s.doc_id = d.doc_id
        |  JOIN emb ON emb.doc_id = d.doc_id),
        |s12 AS (SELECT * FROM base0 WHERE NOT is_bench AND NOT low_quality),
        |fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM s12),
        |fpc AS (SELECT f, MIN(doc_id) AS fp_canon FROM fp GROUP BY f),
        |exact_dups AS (
        |  SELECT fp.doc_id FROM fp JOIN fpc USING (f)
        |  WHERE fp.doc_id <> fpc.fp_canon),
        |s3 AS (
        |  SELECT s12.doc_id, s12.text, s12.n_chars FROM s12
        |  ANTI JOIN exact_dups ON s12.doc_id = exact_dups.doc_id),
        |clusters AS (
        |  SELECT vec_id AS doc_id, cluster
        |  FROM read_parquet('/root/repo/goldens/c5x_clusters.parquet')),
        |nv AS (
        |  SELECT s3.doc_id, clusters.cluster, emb.v,
        |    sqrt(list_sum(list_transform(emb.v, x -> x*x))) AS nrm
        |  FROM s3 JOIN emb USING (doc_id) JOIN clusters USING (doc_id)),
        |pairs AS (
        |  SELECT x.doc_id AS doc1, y.doc_id AS doc2
        |  FROM nv x JOIN nv y
        |    ON x.cluster = y.cluster AND x.doc_id < y.doc_id
        |  WHERE ROUND(CASE WHEN x.nrm * y.nrm > 0
        |    THEN list_sum(list_transform(range(1, 65), i -> x.v[i] * y.v[i]))
        |         / (x.nrm * y.nrm)
        |    ELSE 0 END, 6) >= 0.35),
        |edges AS (SELECT doc1 AS s, doc2 AS d FROM pairs UNION SELECT doc2, doc1 FROM pairs),
        |reach(n, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n),
        |cc AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n),
        |wc AS (
        |  SELECT s3.doc_id, COALESCE(cc.component, s3.doc_id) AS component,
        |    s3.n_chars
        |  FROM s3 LEFT JOIN cc ON cc.node = s3.doc_id),
        |sel AS (
        |  SELECT doc_id, first_value(doc_id) OVER (
        |    PARTITION BY component ORDER BY n_chars DESC, doc_id) AS canonical_doc
        |  FROM wc),
        |near_dups AS (SELECT doc_id FROM sel WHERE doc_id <> canonical_doc),
        |s4 AS (
        |  SELECT s3.doc_id, s3.text FROM s3
        |  ANTI JOIN near_dups ON s3.doc_id = near_dups.doc_id),
        |dsh AS (
        |  SELECT DISTINCT doc_id, unnest(${shinglesSql(toksSql)}) AS shingle
        |  FROM (SELECT doc_id, text FROM s4) d),
        |bsh AS (
        |  SELECT DISTINCT unnest(${shinglesSql(toksSql)}) AS shingle
        |  FROM (SELECT text FROM base0 WHERE is_bench) d),
        |nsh AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
        |ov AS (
        |  SELECT dsh.doc_id, COUNT(*) AS n_overlap
        |  FROM dsh JOIN bsh USING (shingle) GROUP BY 1),
        |contam AS (
        |  SELECT nsh.doc_id FROM nsh LEFT JOIN ov USING (doc_id)
        |  WHERE COALESCE(ov.n_overlap, 0) >= nsh.n_sh * 0.5),
        |tagged AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CASE WHEN b.is_bench THEN 'benchmark'
        |         WHEN b.low_quality THEN 'quality'
        |         WHEN b.doc_id IN (SELECT doc_id FROM exact_dups) THEN 'exact_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM near_dups) THEN 'near_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
        |         ELSE 'kept' END AS stage
        |  FROM base0 b)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM tagged GROUP BY stage ORDER BY stage""".stripMargin,

    // c5w: the c5 pipeline with the t36 fuzzy gate as the contamination
    // stage — a SECOND banding (fbands, via bandsSqlFor's src/out params)
    // over the survivor∪bench slice next to ccSqlOn's corpus banding
    "c5w_curate_report_fuzzy" ->
      s"""WITH RECURSIVE
        |$qualityScoredSql,
        |base0 AS (
        |  SELECT d.doc_id, d.text, d.n_chars,
        |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
        |    (d.doc_id % 50 = 0) AS is_bench,
        |    (s.quality < 0.5) AS low_quality
        |  FROM documents d JOIN scored s ON s.doc_id = d.doc_id),
        |s12 AS (SELECT * FROM base0 WHERE NOT is_bench AND NOT low_quality),
        |fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM s12),
        |fpc AS (SELECT f, MIN(doc_id) AS fp_canon FROM fp GROUP BY f),
        |exact_dups AS (
        |  SELECT fp.doc_id FROM fp JOIN fpc USING (f)
        |  WHERE fp.doc_id <> fpc.fp_canon),
        |s3 AS (
        |  SELECT s12.doc_id, s12.text, s12.n_chars FROM s12
        |  ANTI JOIN exact_dups ON s12.doc_id = exact_dups.doc_id),
        |${ccSqlOn("s3")},
        |wc AS (
        |  SELECT s3.doc_id, COALESCE(cc.component, s3.doc_id) AS component,
        |    s3.n_chars
        |  FROM s3 LEFT JOIN cc ON cc.node = s3.doc_id),
        |sel AS (
        |  SELECT doc_id, first_value(doc_id) OVER (
        |    PARTITION BY component ORDER BY n_chars DESC, doc_id) AS canonical_doc
        |  FROM wc),
        |near_dups AS (SELECT doc_id FROM sel WHERE doc_id <> canonical_doc),
        |s4 AS (
        |  SELECT s3.doc_id, s3.text FROM s3
        |  ANTI JOIN near_dups ON s3.doc_id = near_dups.doc_id),
        |fsh AS (
        |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh
        |  FROM (SELECT doc_id, text FROM s4
        |        UNION ALL
        |        SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0)),
        |${bandsSqlFor(graft.operators.Dedup.NumPerms,
                       graft.operators.Dedup.NumBands, src = "fsh", out = "fbands")},
        |ftb AS (SELECT doc_id, b, sig FROM fbands WHERE doc_id % 50 <> 0
        |        QUALIFY count(*) OVER (PARTITION BY b, sig) <= ${graft.operators.Decontaminate.MaxBucket}),
        |fbb AS (SELECT doc_id AS bench_id, b, sig FROM fbands WHERE doc_id % 50 = 0
        |        QUALIFY count(*) OVER (PARTITION BY b, sig) <= ${graft.operators.Decontaminate.MaxBucket}),
        |fpairs AS (
        |  SELECT DISTINCT ftb.doc_id, fbb.bench_id
        |  FROM ftb JOIN fbb ON ftb.b = fbb.b AND ftb.sig = fbb.sig),
        |ftsh AS (
        |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM fsh
        |  WHERE doc_id IN (SELECT doc_id FROM fpairs)),
        |fbsh AS (
        |  SELECT DISTINCT doc_id AS bench_id, unnest(sh) AS s FROM fsh
        |  WHERE doc_id IN (SELECT bench_id FROM fpairs)),
        |fnt AS (SELECT doc_id, count(*) AS n_t FROM ftsh GROUP BY 1),
        |fnb AS (SELECT bench_id, count(*) AS n_b FROM fbsh GROUP BY 1),
        |fshared AS (
        |  SELECT p.doc_id, p.bench_id, count(*) AS sh_n
        |  FROM fpairs p
        |  JOIN ftsh ON ftsh.doc_id = p.doc_id
        |  JOIN fbsh ON fbsh.bench_id = p.bench_id AND fbsh.s = ftsh.s
        |  GROUP BY 1, 2),
        |fj AS (
        |  SELECT p.doc_id,
        |    ROUND(COALESCE(sh_n, 0) /
        |          CAST(n_t + n_b - COALESCE(sh_n, 0) AS DOUBLE), 6) AS jac
        |  FROM fpairs p
        |  LEFT JOIN fshared USING (doc_id, bench_id)
        |  JOIN fnt USING (doc_id)
        |  JOIN fnb USING (bench_id)),
        |contam AS (SELECT doc_id FROM fj GROUP BY doc_id
        |           HAVING MAX(jac) >= 0.5),
        |tagged AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CASE WHEN b.is_bench THEN 'benchmark'
        |         WHEN b.low_quality THEN 'quality'
        |         WHEN b.doc_id IN (SELECT doc_id FROM exact_dups) THEN 'exact_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM near_dups) THEN 'near_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
        |         ELSE 'kept' END AS stage
        |  FROM base0 b)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM tagged GROUP BY stage ORDER BY stage""".stripMargin,

    // c5v: the c5 pipeline with the t35 perplexity-LM CTEs as the quality
    // stage (LEFT join: docs without bigrams are absent from pscored and
    // must read as low_quality, matching keepExpr's n_bigrams > 0 gate)
    "c5v_curate_report_ppl" ->
      s"""WITH RECURSIVE
        |toks AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
        |bi AS (
        |  SELECT doc_id, lang, s, string_split(s, ' ')[1] AS w1
        |  FROM (SELECT doc_id, lang,
        |          unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS s
        |        FROM toks)),
        |cb AS (SELECT s, count(*) AS cb FROM bi WHERE lang = 'en' GROUP BY s),
        |cu AS (SELECT string_split(s, ' ')[1] AS w1, sum(cb) AS cu FROM cb GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM cu),
        |pscored AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    sum(CAST(ROUND(ln((COALESCE(cb, 0) + 1) /
        |          CAST(COALESCE(cu, 0) + GREATEST((SELECT v FROM v), 1) AS DOUBLE)) * 1e6)
        |        AS BIGINT)) AS sum_logp_e6
        |  FROM bi LEFT JOIN cb USING (s) LEFT JOIN cu USING (w1)
        |  GROUP BY doc_id),
        |base0 AS (
        |  SELECT d.doc_id, d.text, d.n_chars,
        |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
        |    (d.doc_id % 50 = 0) AS is_bench,
        |    NOT (COALESCE(s.n_bigrams, 0) > 0 AND
        |         -COALESCE(s.sum_logp_e6, 0) <= COALESCE(s.n_bigrams, 0) * 3450000)
        |      AS low_quality
        |  FROM documents d LEFT JOIN pscored s USING (doc_id)),
        |s12 AS (SELECT * FROM base0 WHERE NOT is_bench AND NOT low_quality),
        |fp AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        |  FROM s12),
        |fpc AS (SELECT f, MIN(doc_id) AS fp_canon FROM fp GROUP BY f),
        |exact_dups AS (
        |  SELECT fp.doc_id FROM fp JOIN fpc USING (f)
        |  WHERE fp.doc_id <> fpc.fp_canon),
        |s3 AS (
        |  SELECT s12.doc_id, s12.text, s12.n_chars FROM s12
        |  ANTI JOIN exact_dups ON s12.doc_id = exact_dups.doc_id),
        |${ccSqlOn("s3")},
        |wc AS (
        |  SELECT s3.doc_id, COALESCE(cc.component, s3.doc_id) AS component,
        |    s3.n_chars
        |  FROM s3 LEFT JOIN cc ON cc.node = s3.doc_id),
        |sel AS (
        |  SELECT doc_id, first_value(doc_id) OVER (
        |    PARTITION BY component ORDER BY n_chars DESC, doc_id) AS canonical_doc
        |  FROM wc),
        |near_dups AS (SELECT doc_id FROM sel WHERE doc_id <> canonical_doc),
        |s4 AS (
        |  SELECT s3.doc_id, s3.text FROM s3
        |  ANTI JOIN near_dups ON s3.doc_id = near_dups.doc_id),
        |dsh AS (
        |  SELECT DISTINCT doc_id, unnest(${shinglesSql(toksSql)}) AS shingle
        |  FROM (SELECT doc_id, text FROM s4) d),
        |bsh AS (
        |  SELECT DISTINCT unnest(${shinglesSql(toksSql)}) AS shingle
        |  FROM documents WHERE doc_id % 50 = 0),
        |nsh AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
        |ov AS (
        |  SELECT dsh.doc_id, COUNT(*) AS n_overlap
        |  FROM dsh JOIN bsh USING (shingle) GROUP BY 1),
        |contam AS (
        |  SELECT nsh.doc_id FROM nsh LEFT JOIN ov USING (doc_id)
        |  WHERE COALESCE(ov.n_overlap, 0) >= nsh.n_sh * 0.5),
        |tagged AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CASE WHEN b.is_bench THEN 'benchmark'
        |         WHEN b.low_quality THEN 'quality'
        |         WHEN b.doc_id IN (SELECT doc_id FROM exact_dups) THEN 'exact_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM near_dups) THEN 'near_dup'
        |         WHEN b.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
        |         ELSE 'kept' END AS stage
        |  FROM base0 b)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM tagged GROUP BY stage ORDER BY stage""".stripMargin,

    "d11_substring_spans" ->
      """WITH dg AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 24) AS g
        |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 24 + 2)) AS i
        |        FROM documents WHERE len(text) >= 24)),
        |c AS (SELECT g, count(*) AS cnt FROM dg GROUP BY g),
        |kept AS (
        |  SELECT dg.doc_id, dg.g FROM dg JOIN c USING (g)
        |  WHERE cnt BETWEEN 2 AND 1000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS shared_grams
        |FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY doc_a, doc_b""".stripMargin,

    // d18: literal-gram replica of the winnowed selection — list_min over
    // sliding list_slice windows of the ordered gram list (window w=9,
    // whole-list window for shorter docs), then the d11 counting tail
    "d18_winnowed_spans" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE len(text) >= 24),
        |gl AS (
        |  SELECT doc_id,
        |    [substr(text, CAST(i AS INT), 24) for i in range(1, len(text) - 24 + 2)] AS gs
        |  FROM docs),
        |sel AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest([list_min(list_slice(gs, CAST(i AS INT), CAST(i AS INT) + least(9, len(gs)) - 1))
        |              for i in range(1, len(gs) - least(9, len(gs)) + 2)]) AS g
        |    FROM gl)),
        |c AS (SELECT g, count(*) AS cnt FROM sel GROUP BY g),
        |kept AS (SELECT sel.doc_id, sel.g FROM sel JOIN c USING (g)
        |         WHERE cnt BETWEEN 2 AND 1000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_grams
        |FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin,

    // m8: banding + Hamming + CC recomputed INDEPENDENTLY from the m6
    // hash golden (not an output golden) — DuckDB's >>/&/xor/bit_count
    // match the JVM on 64-bit two's complement
    "m8_image_dedup" ->
      """WITH RECURSIVE h AS (
        |  SELECT media_id, phash
        |  FROM read_parquet('/root/repo/goldens/m6_phash.parquet')),
        |bands AS (
        |  SELECT media_id, b, (phash >> CAST(b * 16 AS INT)) & 65535 AS sig
        |  FROM h CROSS JOIN range(0, 4) r(b)),
        |kept AS (SELECT b, sig FROM bands GROUP BY b, sig
        |         HAVING count(*) BETWEEN 2 AND 10000),
        |bk AS (SELECT bands.media_id, bands.b, bands.sig
        |       FROM bands JOIN kept USING (b, sig)),
        |cand AS (
        |  SELECT DISTINCT x.media_id AS doc1, y.media_id AS doc2
        |  FROM bk x JOIN bk y ON x.b = y.b AND x.sig = y.sig
        |    AND x.media_id < y.media_id),
        |ham AS (
        |  SELECT c.doc1, c.doc2 FROM cand c
        |  JOIN h ha ON ha.media_id = c.doc1
        |  JOIN h hb ON hb.media_id = c.doc2
        |  WHERE bit_count(xor(ha.phash, hb.phash)) <= 12),
        |edges AS (SELECT doc1 AS s, doc2 AS d FROM ham
        |          UNION SELECT doc2, doc1 FROM ham),
        |reach(n, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n),
        |cc AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n)
        |SELECT m.media_id,
        |  COALESCE(cc.component, m.media_id) AS component,
        |  CAST(CASE WHEN m.media_id = COALESCE(cc.component, m.media_id)
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM h m LEFT JOIN cc ON cc.node = m.media_id
        |ORDER BY m.media_id""".stripMargin,

    // d18's selection CTEs + per-doc normalization for the oriented
    // containment screen (filter on the ROUNDED values, matching Spark)
    "d23_span_containment" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE len(text) >= 24),
        |gl AS (
        |  SELECT doc_id,
        |    [substr(text, CAST(i AS INT), 24) for i in range(1, len(text) - 24 + 2)] AS gs
        |  FROM docs),
        |sel AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest([list_min(list_slice(gs, CAST(i AS INT), CAST(i AS INT) + least(9, len(gs)) - 1))
        |              for i in range(1, len(gs) - least(9, len(gs)) + 2)]) AS g
        |    FROM gl)),
        |c AS (SELECT g, count(*) AS cnt FROM sel GROUP BY g),
        |kept AS (SELECT sel.doc_id, sel.g FROM sel JOIN c USING (g)
        |         WHERE cnt BETWEEN 2 AND 1000),
        |pd AS (SELECT doc_id, count(*) AS n FROM sel GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_grams
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, shared_grams,
        |  ROUND(shared_grams / CAST(na.n AS DOUBLE), 6) AS containment_a,
        |  ROUND(shared_grams / CAST(nb.n AS DOUBLE), 6) AS containment_b
        |FROM pairs
        |JOIN pd na ON doc_a = na.doc_id
        |JOIN pd nb ON doc_b = nb.doc_id
        |WHERE GREATEST(ROUND(shared_grams / CAST(na.n AS DOUBLE), 6),
        |               ROUND(shared_grams / CAST(nb.n AS DOUBLE), 6)) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // t24: same hashed-bigram buckets, add-one-smoothed log-ratios
    // rounded to fixed-point 1e-6 per bucket, exact integer per-doc sums
    "t24_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
        |bi AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 50 = 0 THEN 'bench' ELSE 'train' END AS side,
        |    (('0x' || substr(md5(s), 1, 15))::BIGINT % ${graft.operators.Dedup.HashMod}) % 1024 AS b
        |  FROM (SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ')
        |                               for i in range(1, len(t))]) AS s FROM toks)),
        |tc AS (SELECT b, count(*) AS ct FROM bi WHERE side = 'bench' GROUP BY b),
        |sc AS (SELECT b, count(*) AS cs FROM bi WHERE side = 'train' GROUP BY b),
        |ratios AS (
        |  SELECT COALESCE(tc.b, sc.b) AS b,
        |    CAST(ROUND((ln((COALESCE(ct, 0) + 1) / ((SELECT sum(ct) FROM tc) + 1024.0))
        |              - ln((COALESCE(cs, 0) + 1) / ((SELECT sum(cs) FROM sc) + 1024.0))) * 1e6)
        |         AS BIGINT) AS lr_e6
        |  FROM tc FULL OUTER JOIN sc ON tc.b = sc.b),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_feats, sum(lr_e6) AS log_weight_e6
        |  FROM bi JOIN ratios USING (b) WHERE side = 'train' GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_feats, 0) AS n_feats,
        |  CAST(COALESCE(s.log_weight_e6, 0) AS BIGINT) AS log_weight_e6
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    // t23: the same k-smallest-distinct-hash sketch per side, θ, and
    // exact-integer estimate (DuckDB `//` = Spark DIV on positive BIGINTs)
    "t23_kmv_overlap" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT
        |    CASE WHEN doc_id % 50 = 0 THEN 'bench' ELSE 'train' END AS side,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT % ${graft.operators.Dedup.HashMod} AS h
        |  FROM (SELECT doc_id, unnest(${shinglesSql("t")}) AS s FROM toks)),
        |ka AS (SELECT h FROM sh WHERE side = 'bench' ORDER BY h LIMIT 256),
        |kb AS (SELECT h FROM sh WHERE side = 'train' ORDER BY h LIMIT 256),
        |stats AS (SELECT
        |  (SELECT count(*) FROM sh WHERE side = 'bench') AS bench_distinct,
        |  (SELECT count(*) FROM sh WHERE side = 'train') AS train_distinct,
        |  (SELECT count(*) FROM (SELECT h FROM sh WHERE side = 'bench'
        |                         INTERSECT SELECT h FROM sh WHERE side = 'train')) AS exact_intersection,
        |  least((SELECT max(h) FROM ka), (SELECT max(h) FROM kb)) AS theta)
        |SELECT CAST(256 AS BIGINT) AS k, bench_distinct, train_distinct,
        |  exact_intersection, theta,
        |  CAST((SELECT count(*) FROM ka JOIN kb USING (h) WHERE h < stats.theta)
        |       * ${graft.operators.Dedup.HashMod} // stats.theta AS BIGINT) AS est_intersection
        |FROM stats""".stripMargin,

    // d19: same literal winnowed selection, then per-doc shared-fraction
    // (no pair join anywhere)
    "d19_dup_span_fraction" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE len(text) >= 24),
        |gl AS (
        |  SELECT doc_id,
        |    [substr(text, CAST(i AS INT), 24) for i in range(1, len(text) - 24 + 2)] AS gs
        |  FROM docs),
        |sel AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest([list_min(list_slice(gs, CAST(i AS INT), CAST(i AS INT) + least(9, len(gs)) - 1))
        |              for i in range(1, len(gs) - least(9, len(gs)) + 2)]) AS g
        |    FROM gl)),
        |freq AS (SELECT g, count(*) AS df FROM sel GROUP BY g)
        |SELECT sel.doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN freq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(CAST(sum(CASE WHEN freq.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS dup_frac
        |FROM sel JOIN freq USING (g)
        |GROUP BY sel.doc_id
        |ORDER BY sel.doc_id""".stripMargin,

    "t10_decontaminate" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(${shinglesSql(toksSql)}) AS shd
        |  FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest(shd) AS s FROM sh WHERE doc_id % 50 = 0),
        |train AS (
        |  SELECT doc_id, CAST(len(shd) AS BIGINT) AS n_sh, shd FROM sh
        |  WHERE doc_id % 50 <> 0),
        |ov AS (
        |  SELECT t.doc_id, COUNT(*) AS n_overlap
        |  FROM (SELECT doc_id, unnest(shd) AS s FROM train) t
        |  JOIN bench b ON t.s = b.s
        |  GROUP BY 1)
        |SELECT t.doc_id, t.n_sh, COALESCE(ov.n_overlap, 0) AS n_overlap,
        |  CASE WHEN t.n_sh > 0
        |    THEN ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / t.n_sh, 6)
        |    ELSE 0.0 END AS overlap_frac,
        |  CAST(CASE WHEN t.n_sh > 0 AND
        |    ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / t.n_sh, 6) >= 0.5
        |    THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM train t LEFT JOIN ov ON t.doc_id = ov.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "t37_contam_attribution" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(${shinglesSql(toksSql)}) AS shd
        |  FROM documents),
        |suite_sh AS (
        |  SELECT DISTINCT d.source AS suite, s
        |  FROM (SELECT doc_id, unnest(shd) AS s FROM sh WHERE doc_id % 50 = 0) b
        |  JOIN documents d ON d.doc_id = b.doc_id),
        |bu AS (SELECT DISTINCT s FROM suite_sh),
        |train AS (
        |  SELECT doc_id, CAST(len(shd) AS BIGINT) AS n_sh, shd FROM sh
        |  WHERE doc_id % 50 <> 0),
        |tx AS (SELECT doc_id, unnest(shd) AS s FROM train),
        |tot AS (
        |  SELECT tx.doc_id, COUNT(*) AS total_overlap
        |  FROM tx JOIN bu USING (s) GROUP BY 1),
        |ps AS (
        |  SELECT tx.doc_id, suite_sh.suite, COUNT(*) AS suite_overlap
        |  FROM tx JOIN suite_sh ON tx.s = suite_sh.s GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, suite AS top_suite, suite_overlap AS top_suite_overlap
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY doc_id ORDER BY suite_overlap DESC, suite) AS rk
        |        FROM ps) t
        |  WHERE rk = 1)
        |SELECT top.doc_id, train.n_sh,
        |  CAST(tot.total_overlap AS BIGINT) AS total_overlap,
        |  CASE WHEN train.n_sh > 0
        |    THEN ROUND(CAST(tot.total_overlap AS DOUBLE) / train.n_sh, 6)
        |    ELSE 0.0 END AS overlap_frac,
        |  CAST(CASE WHEN ROUND(CAST(tot.total_overlap AS DOUBLE) / train.n_sh, 6) >= 0.5
        |    THEN 1 ELSE 0 END AS BIGINT) AS contaminated,
        |  top.top_suite, CAST(top.top_suite_overlap AS BIGINT) AS top_suite_overlap
        |FROM top JOIN tot ON tot.doc_id = top.doc_id
        |JOIN train ON train.doc_id = top.doc_id
        |ORDER BY top.doc_id""".stripMargin,

    "t38_mix_temperature" ->
      s"""WITH t AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CAST(len($toksSql) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |m AS (SELECT MAX(n_tokens) AS mx FROM t)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(sqrt(CAST(n_tokens AS DOUBLE) / mx), 6) AS weight_ratio
        |FROM t, m ORDER BY source""".stripMargin,

    "t39_decontaminate_surgery" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |tr AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t
        |       WHERE doc_id % 50 <> 0),
        |bfp AS (
        |  SELECT DISTINCT md5(array_to_string(
        |    toks[CAST(p + 1 AS INT) : CAST(p + 3 AS INT)], ' ')) AS fp
        |  FROM (SELECT toks, unnest(range(len(toks) - 2)) AS p FROM t
        |        WHERE doc_id % 50 = 0 AND len(toks) >= 3) z),
        |hp AS (SELECT doc_id, n, toks, unnest(range(n - 2)) AS p FROM tr
        |       WHERE n >= 3),
        |hits AS (
        |  SELECT doc_id, n, p FROM (
        |    SELECT doc_id, n, p, md5(array_to_string(
        |      toks[CAST(p + 1 AS INT) : CAST(p + 3 AS INT)], ' ')) AS fp
        |    FROM hp) h
        |  WHERE fp IN (SELECT fp FROM bfp)),
        |iv AS (SELECT doc_id, GREATEST(p - 5, 0) AS s0, LEAST(p + 8, n) AS e0
        |       FROM hits),
        |ni AS (
        |  SELECT doc_id, s0, e0,
        |    CASE WHEN s0 > COALESCE(MAX(e0) OVER (
        |      PARTITION BY doc_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |    THEN 1 ELSE 0 END AS f
        |  FROM iv),
        |sp AS (
        |  SELECT doc_id, isl, MIN(s0) AS s, MAX(e0) AS e
        |  FROM (SELECT doc_id, s0, e0, SUM(f) OVER (
        |          PARTITION BY doc_id ORDER BY s0, e0
        |          ROWS UNBOUNDED PRECEDING) AS isl FROM ni) z
        |  GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed,
        |         CAST(SUM(e - s) AS BIGINT) AS removed_tokens
        |       FROM sp GROUP BY 1),
        |nh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |       FROM hits GROUP BY 1),
        |pos AS (SELECT tr.doc_id, tr.toks, unnest(range(tr.n)) AS i
        |        FROM tr JOIN nh ON nh.doc_id = tr.doc_id),
        |kept AS (
        |  SELECT pos.doc_id, pos.i, pos.toks[CAST(pos.i + 1 AS INT)] AS tok
        |  FROM pos
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |    WHERE sp.doc_id = pos.doc_id AND pos.i >= sp.s AND pos.i < sp.e)),
        |cf AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS cfp
        |       FROM kept GROUP BY doc_id)
        |SELECT tr.doc_id, tr.n AS n_tokens,
        |  COALESCE(nh.n_hits, 0) AS n_hits,
        |  COALESCE(ag.n_spans_removed, 0) AS n_spans_removed,
        |  COALESCE(ag.removed_tokens, 0) AS removed_tokens,
        |  CASE WHEN tr.n > 0
        |    THEN ROUND((tr.n - COALESCE(ag.removed_tokens, 0))
        |           / CAST(tr.n AS DOUBLE), 6)
        |    ELSE 1.0 END AS kept_frac,
        |  CASE WHEN nh.doc_id IS NULL THEN md5(array_to_string(tr.toks, ' '))
        |       ELSE COALESCE(cf.cfp, md5('')) END AS cleaned_fp
        |FROM tr LEFT JOIN nh ON nh.doc_id = tr.doc_id
        |LEFT JOIN ag ON ag.doc_id = tr.doc_id
        |LEFT JOIN cf ON cf.doc_id = tr.doc_id
        |ORDER BY tr.doc_id""".stripMargin,

    "t9_token_budget_mix" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, cum_before FROM c
        |WHERE cum_before < CASE WHEN lang = 'en' THEN 4000
        |                        WHEN lang = 'de' THEN 1500 ELSE 2500 END
        |ORDER BY doc_id""".stripMargin,

    "t8_pack_sequences" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, cum_before,
        |  CAST(cum_before // 256 AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "e1_curate" ->
      s"""WITH RECURSIVE $ccSql,
        |wc AS (
        |  SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component, d.n_chars
        |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
        |sel AS (
        |  SELECT doc_id, component,
        |    first_value(doc_id) OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS canonical_doc
        |  FROM wc),
        |kept AS (SELECT doc_id, component FROM sel WHERE doc_id = canonical_doc),
        |$qualityScoredSql
        |SELECT k.doc_id, k.component, s.lang, s.quality
        |FROM kept k JOIN scored s ON k.doc_id = s.doc_id
        |WHERE s.quality >= 0.5
        |  AND ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 60
        |ORDER BY k.doc_id""".stripMargin,

    "d7_cc_components" ->
      s"""WITH RECURSIVE $ccSql
        |SELECT node, component FROM cc ORDER BY node""".stripMargin,

    "d8_dedup_resolve" ->
      s"""WITH RECURSIVE $ccSql,
        |wc AS (
        |  SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS component, d.n_chars
        |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
        |sel AS (
        |  SELECT doc_id, component,
        |    first_value(doc_id) OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS canonical_doc
        |  FROM wc)
        |SELECT doc_id, component, canonical_doc,
        |  CAST(CASE WHEN doc_id = canonical_doc THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sel ORDER BY doc_id""".stripMargin,

    "t21_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
        |m AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS DOUBLE) AS n,
        |    CASE WHEN len(toks) > 0
        |      THEN list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks)
        |      ELSE 0 END AS mean_len,
        |    CASE WHEN len(toks) > 0
        |      THEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in',
        |        'der','die','das','und','ist','zu','ein','el','la','de','y','es','en','un',
        |        'le','et','est'))) AS DOUBLE) / len(toks)
        |      ELSE 0 END AS stop
        |  FROM t),
        |q AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(least(
        |      ROUND(least(n/50.0, 1.0)*0.4 +
        |        (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END)*0.3 +
        |        least(stop*5.0, 1.0)*0.3, 6) * 1.2, 1.0) * 100) AS BIGINT) AS keep_pct,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM m)
        |SELECT doc_id, lang, keep_pct, bucket FROM q
        |WHERE bucket < keep_pct ORDER BY doc_id""".stripMargin,

    "t5_hash_sample" ->
      """SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 <
        |  CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 25 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,

    "t25_url_domains" ->
      s"""WITH u AS (
        |  SELECT doc_id,
        |    'https://' || ['www','cdn','m'][CAST(doc_id % 3 AS INT) + 1] || '.' ||
        |      source || '-' || CAST(doc_id % 7 AS VARCHAR) || '.' ||
        |      ['com','org','net','io'][CAST(doc_id % 4 AS INT) + 1] ||
        |      '/' || lang || '/item/' || CAST(doc_id AS VARCHAR) AS url,
        |    CAST(len($toksSql) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1) AS host,
        |    regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1),
        |      '([^.]+\\.[^.]+)$$', 1) AS domain,
        |    regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1),
        |      '\\.([^.]+)$$', 1) AS tld,
        |    CAST(len(list_filter(string_split(
        |      regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/]*', ''), '/'),
        |      x -> len(x) > 0)) AS BIGINT) AS path_depth
        |  FROM u)
        |SELECT domain, tld, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT host) AS n_hosts,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, MAX(path_depth) AS max_depth
        |FROM p
        |WHERE domain NOT IN ('src0-0.com', 'src1-1.org', 'src2-2.net')
        |GROUP BY domain, tld
        |ORDER BY domain""".stripMargin,

    "t33_lang_classifier" -> langClassifierSql,

    "t34_lang_holdout" -> langHoldoutSql,

    "t28_quality_classifier" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
        |w AS (SELECT doc_id,
        |        ('0x' || substr(md5(t), 1, 8))::BIGINT - 2147483648 AS w
        |      FROM tok),
        |agg AS (SELECT doc_id, SUM(w) AS w_sum, COUNT(*) AS n_tokens
        |        FROM w GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(agg.n_tokens, 0) AS n_tokens,
        |  ROUND(1.0 / (1.0 + exp(-CAST(COALESCE(agg.w_sum, 0) AS DOUBLE)
        |    / (GREATEST(COALESCE(agg.n_tokens, 0), 1) * 2147483648.0))), 6) AS score,
        |  CAST(COALESCE(agg.w_sum, 0) >= 0 AS BIGINT) AS keep
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "t6_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
        |cnt AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |top AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_frac
        |        FROM cnt GROUP BY doc_id),
        |bg AS (SELECT doc_id, len(toks) AS n_tokens,
        |         [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] AS bg
        |       FROM t)
        |SELECT bg.doc_id, CAST(bg.n_tokens AS BIGINT) AS n_tokens,
        |  COALESCE(top.top_token_frac, 0.0) AS top_token_frac,
        |  CASE WHEN len(bg.bg) > 0
        |    THEN ROUND(1.0 - CAST(len(list_distinct(bg.bg)) AS DOUBLE) / len(bg.bg), 6)
        |    ELSE 0.0 END AS dup_bigram_frac
        |FROM bg LEFT JOIN top ON bg.doc_id = top.doc_id
        |ORDER BY bg.doc_id""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY canonical_doc""".stripMargin,

    // the kept/bk CTEs mirror lshCandidatePairs' 2..10000 bucket-size
    // gate exactly (a megabucket would otherwise diverge the two engines;
    // the singleton drop is a no-op for pairs but kept for symmetry)
    "d2_minhash_lsh" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh
        |  FROM documents),
        |$bandsSql,
        |kept AS (
        |  SELECT b, sig FROM bands GROUP BY b, sig
        |  HAVING COUNT(*) BETWEEN 2 AND 10000),
        |bk AS (SELECT bands.* FROM bands JOIN kept USING (b, sig))
        |SELECT x.doc_id AS doc1, y.doc_id AS doc2, COUNT(*) AS n_bands
        |FROM bk x JOIN bk y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 ORDER BY doc1, doc2""".stripMargin,

    "d24_lsh_recall" ->
      s"""WITH samp AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 100 < 30),
        |sh0 AS (
        |  SELECT doc_id, unnest(${shinglesSql(toksSql)}) AS shingle
        |  FROM samp),
        |df AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) <= 1000),
        |ksh AS (SELECT sh0.* FROM sh0 JOIN df USING (shingle)),
        |nsh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM ksh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS doc1, y.doc_id AS doc2, COUNT(*) AS i
        |  FROM ksh x JOIN ksh y
        |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT doc1, doc2,
        |    ROUND(CAST(i AS DOUBLE) / (n1.n + n2.n - i), 6) AS jac
        |  FROM inter JOIN nsh n1 ON n1.doc_id = inter.doc1
        |  JOIN nsh n2 ON n2.doc_id = inter.doc2),
        |sh AS (SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM samp),
        |$bandsSql,
        |kept AS (
        |  SELECT b, sig FROM bands GROUP BY b, sig
        |  HAVING COUNT(*) BETWEEN 2 AND 10000),
        |bk AS (SELECT bands.* FROM bands JOIN kept USING (b, sig)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
        |  FROM bk x JOIN bk y
        |    ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |cj AS (
        |  SELECT COALESCE(exact.jac, 0.0) AS jac
        |  FROM cand LEFT JOIN exact USING (doc1, doc2)),
        |ex1 AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN jac >= 0.3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS t03,
        |    CAST(COALESCE(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS t05,
        |    CAST(COALESCE(SUM(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END), 0) AS BIGINT) AS t07
        |  FROM exact),
        |cd1 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nc,
        |    CAST(COALESCE(SUM(CASE WHEN jac >= 0.3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS h03,
        |    CAST(COALESCE(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS h05,
        |    CAST(COALESCE(SUM(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END), 0) AS BIGINT) AS h07
        |  FROM cj),
        |rungs AS (
        |  SELECT 0.3 AS tau, t03 AS n_true, nc AS n_candidates, h03 AS n_hit
        |  FROM ex1, cd1
        |  UNION ALL
        |  SELECT 0.5, t05, nc, h05 FROM ex1, cd1
        |  UNION ALL
        |  SELECT 0.7, t07, nc, h07 FROM ex1, cd1)
        |SELECT CAST(tau AS DOUBLE) AS tau, n_true, n_candidates, n_hit,
        |  CASE WHEN n_true > 0
        |    THEN ROUND(CAST(n_hit AS DOUBLE) / n_true, 6) ELSE 1.0 END AS recall,
        |  CASE WHEN n_candidates > 0
        |    THEN ROUND(CAST(n_hit AS DOUBLE) / n_candidates, 6)
        |    ELSE 1.0 END AS "precision"
        |FROM rungs ORDER BY tau""".stripMargin,

    "c6_split_leakage" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh
        |  FROM documents),
        |$bandsSql,
        |kept AS (
        |  SELECT b, sig FROM bands GROUP BY b, sig
        |  HAVING COUNT(*) BETWEEN 2 AND 10000),
        |bk AS (SELECT bands.* FROM bands JOIN kept USING (b, sig)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
        |  FROM bk x JOIN bk y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |split AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 >= 80 AS is_eval
        |  FROM documents)
        |SELECT CASE WHEN s1.is_eval THEN c.doc2 ELSE c.doc1 END AS train_doc,
        |       CASE WHEN s1.is_eval THEN c.doc1 ELSE c.doc2 END AS eval_doc
        |FROM cand c
        |JOIN split s1 ON s1.doc_id = c.doc1
        |JOIN split s2 ON s2.doc_id = c.doc2
        |WHERE s1.is_eval <> s2.is_eval
        |ORDER BY train_doc, eval_doc""".stripMargin,

    "d2v_minhash128" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh
        |  FROM documents),
        |${bandsSqlFor(128, 32)},
        |kept AS (
        |  SELECT b, sig FROM bands GROUP BY b, sig
        |  HAVING COUNT(*) BETWEEN 2 AND 10000),
        |bk AS (SELECT bands.* FROM bands JOIN kept USING (b, sig))
        |SELECT x.doc_id AS doc1, y.doc_id AS doc2, COUNT(*) AS n_bands
        |FROM bk x JOIN bk y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 ORDER BY doc1, doc2""".stripMargin,

    // 64-bit simhash: bit 63 is the BIGINT sign bit; DuckDB raises on a
    // literal 1 << 63, so the value is built as (1 << 62) * -2 — exact
    // two's complement, bit-identical to Spark's 1L << 63. The bucket
    // masks with & (sign-safe in both engines), never %.
    "d3v_simhash64" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN ((CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) >> (b % 4)) & 1 = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM (SELECT doc_id, h, b, ascii(substr(h, CAST(b // 4 AS INT) + 1, 1)) AS a
        |        FROM h CROSS JOIN range(0, 64) r(b))
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vote > 0 THEN
        |      (CASE WHEN b = 63 THEN (1::BIGINT << 62) * (-2)
        |            ELSE (1::BIGINT << b) END)
        |      ELSE 0 END) AS BIGINT) AS simhash64
        |  FROM votes GROUP BY doc_id)
        |SELECT doc_id, simhash64, simhash64 & 255 AS bucket
        |FROM sig ORDER BY doc_id""".stripMargin,

    "d3_simhash" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN ((CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) >> (b % 4)) & 1 = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM (SELECT doc_id, h, b, ascii(substr(h, CAST(b // 4 AS INT) + 1, 1)) AS a
        |        FROM h CROSS JOIN range(0, 32) r(b))
        |  GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash,
        |  CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) % 256 AS BIGINT) AS bucket
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d6_simhash_pairs" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN ((CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) >> (b % 4)) & 1 = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM (SELECT doc_id, h, b, ascii(substr(h, CAST(b // 4 AS INT) + 1, 1)) AS a
        |        FROM h CROSS JOIN range(0, 32) r(b))
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id)
        |SELECT x.doc_id AS doc1, y.doc_id AS doc2,
        |  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
        |FROM sh x JOIN sh y ON x.sh % 16 = y.sh % 16 AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.sh, y.sh)) <= 10
        |ORDER BY doc1, doc2""".stripMargin,

    "d12_simhash_repdup" ->
      s"""WITH g AS (
        |  SELECT md5(text) AS fp, MIN(doc_id) AS rep, COUNT(*) AS n_clones
        |  FROM documents GROUP BY 1),
        |rd AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN g ON d.doc_id = g.rep),
        |tok AS (
        |  SELECT doc_id, unnest($toksSql) AS t FROM rd),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN ((CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) >> (b % 4)) & 1 = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM (SELECT doc_id, h, b, ascii(substr(h, CAST(b // 4 AS INT) + 1, 1)) AS a
        |        FROM h CROSS JOIN range(0, 32) r(b))
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vote > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sh
        |  FROM votes GROUP BY doc_id),
        |rsh AS (
        |  SELECT g.rep, g.n_clones, sh.sh FROM g JOIN sh ON sh.doc_id = g.rep),
        |cross_pairs AS (
        |  SELECT x.rep AS doc1, y.rep AS doc2,
        |    CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming,
        |    CAST(x.n_clones * y.n_clones AS BIGINT) AS n_pairs
        |  FROM rsh x JOIN rsh y ON x.sh % 16 = y.sh % 16 AND x.rep < y.rep
        |  WHERE bit_count(xor(x.sh, y.sh)) <= 10),
        |intra AS (
        |  SELECT rep AS doc1, rep AS doc2, CAST(0 AS BIGINT) AS hamming,
        |    CAST(n_clones * (n_clones - 1) // 2 AS BIGINT) AS n_pairs
        |  FROM g WHERE n_clones > 1)
        |SELECT * FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra)
        |ORDER BY doc1, doc2""".stripMargin,

    // generated from the same rotation/window constants as
    // Dedup.simhashSortedNeighborPairs (8 nibble-gather rotations,
    // 6-deep sorted neighborhood, blocks = top 6 key bits) so the two
    // engines cannot drift on the permutation layout
    "d13_simhash_sorted" -> {
      def keyExpr(t: Int): String = (0 until 8)
        .map(j => s"(((sh >> ${4 * ((j + t) % 8)}) & 15) << ${4 * j})")
        .mkString("(", " | ", ")")
      val kCtes = (0 until 8).map(t =>
        s"k$t AS (SELECT doc_id, sh, ${keyExpr(t)} AS k FROM sh)")
      val lCtes = (0 until 8).map { t =>
        val leads = (1 to 6).flatMap(i => Seq(
          s"lead(doc_id, $i) OVER w AS d$i", s"lead(sh, $i) OVER w AS s$i"))
          .mkString(", ")
        s"l$t AS (SELECT doc_id, sh, $leads FROM " +
          s"(SELECT *, (k >> 26) AS blk FROM k$t) kb$t " +
          "WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id))"
      }
      val cands = (for { t <- 0 until 8; i <- 1 to 6 } yield
        s"SELECT doc_id AS da, sh AS sa, d$i AS db, s$i AS sb FROM l$t WHERE d$i IS NOT NULL")
        .mkString("\n UNION ALL ")
      s"""WITH $simhashShCtes,
         |${kCtes.mkString(",\n")},
         |${lCtes.mkString(",\n")},
         |cands AS ($cands)
         |SELECT DISTINCT least(da, db) AS doc1, greatest(da, db) AS doc2,
         |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cands
         |WHERE bit_count(xor(sa, sb)) <= 10
         |ORDER BY doc1, doc2""".stripMargin
    },

    // d13 at 64 bits: same generator shape as the literal d13 oracle
    // above, widened — 16 rotations, 16 nibbles, block shift 64-6, and
    // the 64-bit simhash CTE (bit 63 as (1<<62)*-2; see d3v).
    "d13v_simhash64_sorted" -> {
      val nib = 16
      val shCte64 =
        s"""tok AS (
           |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
           |h AS (SELECT doc_id, md5(t) AS h FROM tok),
           |votes AS (
           |  SELECT doc_id, b,
           |    SUM(CASE WHEN ((CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) >> (b % 4)) & 1 = 1
           |        THEN 1 ELSE -1 END) AS vote
           |  FROM (SELECT doc_id, h, b, ascii(substr(h, CAST(b // 4 AS INT) + 1, 1)) AS a
           |        FROM h CROSS JOIN range(0, 64) r(b))
           |  GROUP BY doc_id, b),
           |sh AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN vote > 0 THEN
           |      (CASE WHEN b = 63 THEN (1::BIGINT << 62) * (-2)
           |            ELSE (1::BIGINT << b) END)
           |      ELSE 0 END) AS BIGINT) AS sh
           |  FROM votes GROUP BY doc_id)""".stripMargin
      // top output nibble (j = 15, shift 60): a nibble value >= 8 would
      // set bit 63, which DuckDB's checked << refuses — split the
      // nibble's top bit off and OR it in as the (1 << 62) * -2 sign-bit
      // value (bitwise |, no overflow check); low 3 bits shift normally
      def keyExpr(t: Int): String = (0 until nib).map { j =>
        val v = s"((sh >> ${4 * ((j + t) % nib)}) & 15)"
        if (j == nib - 1)
          s"((($v & 7) << ${4 * j}) | (CASE WHEN $v >= 8 THEN (1::BIGINT << 62) * (-2) ELSE 0 END))"
        else s"($v << ${4 * j})"
      }.mkString("(", " | ", ")")
      val kCtes = (0 until nib).map(t =>
        s"k$t AS (SELECT doc_id, sh, ${keyExpr(t)} AS k FROM sh)")
      val lCtes = (0 until nib).map { t =>
        val leads = (1 to 6).flatMap(i => Seq(
          s"lead(doc_id, $i) OVER w AS d$i", s"lead(sh, $i) OVER w AS s$i"))
          .mkString(", ")
        s"l$t AS (SELECT doc_id, sh, $leads FROM " +
          s"(SELECT *, (k >> ${64 - 6}) AS blk FROM k$t) kb$t " +
          "WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id))"
      }
      val cands = (for { t <- 0 until nib; i <- 1 to 6 } yield
        s"SELECT doc_id AS da, sh AS sa, d$i AS db, s$i AS sb FROM l$t WHERE d$i IS NOT NULL")
        .mkString("\n UNION ALL ")
      s"""WITH $shCte64,
         |${kCtes.mkString(",\n")},
         |${lCtes.mkString(",\n")},
         |cands AS ($cands)
         |SELECT DISTINCT least(da, db) AS doc1, greatest(da, db) AS doc2,
         |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cands
         |WHERE bit_count(xor(sa, sb)) <= 20
         |ORDER BY doc1, doc2""".stripMargin
    },

    "d4_ngram_jaccard" ->
      s"""WITH sh AS (
        |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh
        |  FROM documents),
        |$bandsSql,
        |kept AS (
        |  SELECT b, sig FROM bands GROUP BY b, sig
        |  HAVING COUNT(*) BETWEEN 2 AND 10000),
        |bk AS (SELECT bands.* FROM bands JOIN kept USING (b, sig)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
        |  FROM bk x JOIN bk y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |ds AS (SELECT doc_id, list_distinct(sh) AS shd FROM sh),
        |j AS (
        |  SELECT doc1, doc2,
        |    ROUND(CAST(len(list_intersect(x.shd, y.shd)) AS DOUBLE) /
        |          len(list_distinct(list_concat(x.shd, y.shd))), 6) AS jaccard
        |  FROM cand JOIN ds x ON cand.doc1 = x.doc_id JOIN ds y ON cand.doc2 = y.doc_id)
        |SELECT doc1, doc2, jaccard FROM j
        |WHERE jaccard >= 0.8
        |ORDER BY doc1, doc2""".stripMargin,

    "d5_embedding_neardup" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |planes AS (
        |  SELECT j, [CASE WHEN (CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) & 1 = 1
        |             THEN 1.0 ELSE -1.0 END
        |             for a in [ascii(substr(md5(CAST(j AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1)) for i in range(0, 64)]] AS p
        |  FROM range(0, 12) r(j)),
        |sigs AS (
        |  SELECT vec_id, j // 4 AS t,
        |         string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
        |  FROM (
        |    SELECT v.vec_id, planes.j,
        |      list_sum(list_transform(range(1, 65), i -> v.v[i] * planes.p[i])) AS proj
        |    FROM v CROSS JOIN planes)
        |  GROUP BY vec_id, j // 4),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM v),
        |cand AS (
        |  SELECT DISTINCT s1.vec_id AS id1, s2.vec_id AS id2
        |  FROM sigs s1 JOIN sigs s2 ON s1.t = s2.t AND s1.bucket = s2.bucket
        |  WHERE s1.vec_id < s2.vec_id)
        |SELECT c.id1, c.id2,
        |  ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS sim
        |FROM cand c JOIN n a ON a.vec_id = c.id1 JOIN n b ON b.vec_id = c.id2
        |WHERE ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.35
        |ORDER BY id1, id2""".stripMargin,

    // adaptive-plane variant of d5: plane count p = min p≥4 with
    // 2^p·128 ≥ n (exact integer rule, mirrored by the Scala side);
    // bucket strings are substrings of the same md5-derived signs, so at
    // n ≤ 2048 (where p stays 4) this is bit-identical to d5. No ORDER
    // BY: the pair set is the contract; the gate's compare sorts both sides.
    "d14_embedding_neardup_scaled" ->
      """WITH pc AS (
        |  SELECT min(j) AS p FROM range(4, 31) r(j)
        |  WHERE (CAST(1 AS BIGINT) << j) * 128 >= (SELECT count(*) FROM embeddings)),
        |v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |planes AS (
        |  SELECT j, [CASE WHEN (CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) & 1 = 1
        |             THEN 1.0 ELSE -1.0 END
        |             for a in [ascii(substr(md5(CAST(j AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1)) for i in range(0, 64)]] AS p
        |  FROM range(0, 93) r(j) WHERE j < 3 * (SELECT p FROM pc)),
        |sigs AS (
        |  SELECT vec_id, j // (SELECT p FROM pc) AS t,
        |         string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
        |  FROM (
        |    SELECT v.vec_id, planes.j,
        |      list_sum(list_transform(range(1, 65), i -> v.v[i] * planes.p[i])) AS proj
        |    FROM v CROSS JOIN planes)
        |  GROUP BY vec_id, j // (SELECT p FROM pc)),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM v),
        |cand AS (
        |  SELECT DISTINCT s1.vec_id AS id1, s2.vec_id AS id2
        |  FROM sigs s1 JOIN sigs s2 ON s1.t = s2.t AND s1.bucket = s2.bucket
        |  WHERE s1.vec_id < s2.vec_id)
        |SELECT c.id1, c.id2,
        |  ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS sim
        |FROM cand c JOIN n a ON a.vec_id = c.id1 JOIN n b ON b.vec_id = c.id2
        |WHERE ROUND(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.35""".stripMargin,

    "v1_knn_brute" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM v),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id,
        |    ROUND(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS sim
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5)
        |SELECT query_id, rank, vec_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "v2_knn_lsh" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |planes AS (
        |  SELECT j, [CASE WHEN (CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) & 1 = 1
        |             THEN 1.0 ELSE -1.0 END
        |             for a in [ascii(substr(md5(CAST(j AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1)) for i in range(0, 64)]] AS p
        |  FROM range(0, 6) r(j)),
        |sigs AS (
        |  SELECT vec_id, string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
        |  FROM (
        |    SELECT v.vec_id, planes.j,
        |      list_sum(list_transform(range(1, 65), i -> v.v[i] * planes.p[i])) AS proj
        |    FROM v CROSS JOIN planes)
        |  GROUP BY vec_id),
        |n AS (SELECT v.vec_id, sigs.bucket, v.v, sqrt(list_sum(list_transform(v.v, x -> x*x))) AS nrm
        |      FROM v JOIN sigs USING (vec_id)),
        |scored AS (
        |  SELECT q.vec_id AS query_id, q.bucket, c.vec_id,
        |    ROUND(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS sim
        |  FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20)
        |SELECT query_id, bucket, rank, vec_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "v5_int8_knn" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |st AS (
        |  SELECT i, MIN(v.v[CAST(i AS INT) + 1]) AS mn, MAX(v.v[CAST(i AS INT) + 1]) AS mx
        |  FROM v CROSS JOIN range(0, 64) r(i) GROUP BY 1),
        |stats AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
        |dq AS (
        |  SELECT vec_id, list_transform(range(1, 65), i ->
        |    CASE WHEN s.mxs[i] > s.mns[i]
        |      THEN floor((v.v[i] - s.mns[i]) * 255 / (s.mxs[i] - s.mns[i]) + 0.5)
        |             * (s.mxs[i] - s.mns[i]) / 255 + s.mns[i]
        |      ELSE s.mns[i] END) AS dv
        |  FROM v CROSS JOIN stats s),
        |n AS (SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x*x))) AS nrm FROM dq),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id,
        |    ROUND(list_sum(list_transform(range(1, 65), i -> q.dv[i] * c.dv[i])) / (q.nrm * c.nrm), 6) AS qsim
        |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5)
        |SELECT query_id, rank, vec_id, qsim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qsim DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "v6_multiprobe_knn" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |planes AS (
        |  SELECT j, [CASE WHEN (CASE WHEN a <= 57 THEN a - 48 ELSE a - 87 END) & 1 = 1
        |             THEN 1.0 ELSE -1.0 END
        |             for a in [ascii(substr(md5(CAST(j AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1)) for i in range(0, 64)]] AS p
        |  FROM range(0, 6) r(j)),
        |proj AS (
        |  SELECT v.vec_id, planes.j,
        |    list_sum(list_transform(range(1, 65), i -> v.v[i] * planes.p[i])) AS proj
        |  FROM v CROSS JOIN planes),
        |sigs AS (
        |  SELECT vec_id,
        |    string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket,
        |    list(j ORDER BY abs(proj), j) AS fliporder
        |  FROM proj GROUP BY vec_id),
        |n AS (SELECT v.vec_id, sigs.bucket, sigs.fliporder, v.v,
        |        sqrt(list_sum(list_transform(v.v, x -> x*x))) AS nrm
        |      FROM v JOIN sigs USING (vec_id)),
        |probes AS (
        |  SELECT vec_id,
        |    CASE WHEN m = 0 THEN bucket
        |         ELSE substr(bucket, 1, CAST(fliporder[CAST(m AS INT)] AS INT)) ||
        |              (CASE WHEN substr(bucket, CAST(fliporder[CAST(m AS INT)] AS INT) + 1, 1) = '1'
        |                    THEN '0' ELSE '1' END) ||
        |              substr(bucket, CAST(fliporder[CAST(m AS INT)] AS INT) + 2, 6)
        |    END AS pbucket
        |  FROM n CROSS JOIN range(0, 3) r(m) WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id,
        |    ROUND(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS sim
        |  FROM probes p
        |  JOIN n q ON q.vec_id = p.vec_id
        |  JOIN n c ON c.bucket = p.pbucket AND c.vec_id <> p.vec_id)
        |SELECT query_id, rank, vec_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "v7_pq_codes" ->
      """WITH centl AS (
        |  SELECT label AS code, i,
        |    ROUND(AVG(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)), 6) AS c
        |  FROM embeddings CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
        |cent AS (
        |  SELECT code, CAST(i // 8 AS INT) AS sub, list(c ORDER BY i) AS cvec
        |  FROM centl GROUP BY 1, 2),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |subs AS (
        |  SELECT vec_id, CAST(s AS INT) AS sub, v[CAST(s*8+1 AS INT) : CAST(s*8+8 AS INT)] AS sv
        |  FROM v CROSS JOIN range(0, 8) r(s)),
        |scored AS (
        |  SELECT vec_id, sub, code,
        |    ROUND(list_sum(list_transform(range(1, 9),
        |      j -> (sv[j] - cvec[j]) * (sv[j] - cvec[j]))), 6) AS err
        |  FROM subs JOIN cent USING (sub))
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, err
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY vec_id, sub ORDER BY err, code) AS rk FROM scored) t
        |WHERE rk = 1 ORDER BY vec_id, sub""".stripMargin,

    "v9_coarse_rerank" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm,
        |        v[1:32] AS cv FROM v),
        |n2 AS (SELECT vec_id, v, nrm, cv,
        |        sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnrm FROM n),
        |coarse AS (
        |  SELECT q.vec_id AS query_id, c.vec_id, c.v AS cfull, c.nrm AS cfnrm,
        |    q.v AS qv, q.nrm AS qnrm,
        |    ROUND(list_sum(list_transform(range(1, 33), i -> q.cv[i] * c.cv[i]))
        |      / (q.cnrm * c.cnrm), 6) AS csim
        |  FROM n2 q JOIN n2 c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5),
        |short AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY csim DESC, vec_id) AS crank FROM coarse) t
        |  WHERE crank <= 100),
        |exact AS (
        |  SELECT query_id, vec_id,
        |    ROUND(list_sum(list_transform(range(1, 65), i -> qv[i] * cfull[i]))
        |      / (qnrm * cfnrm), 6) AS sim
        |  FROM short)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank FROM exact) t
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "v8_ivfpq_adc" ->
      """WITH centl AS (
        |  SELECT label AS code, i,
        |    ROUND(AVG(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)), 6) AS c
        |  FROM embeddings CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
        |cent AS (
        |  SELECT code, CAST(i // 8 AS INT) AS sub, list(c ORDER BY i) AS cvec
        |  FROM centl GROUP BY 1, 2),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |subs AS (
        |  SELECT vec_id, CAST(s AS INT) AS sub, v[CAST(s*8+1 AS INT) : CAST(s*8+8 AS INT)] AS sv
        |  FROM v CROSS JOIN range(0, 8) r(s)),
        |scored AS (
        |  SELECT vec_id, sub, code,
        |    ROUND(list_sum(list_transform(range(1, 9),
        |      j -> (sv[j] - cvec[j]) * (sv[j] - cvec[j]))), 6) AS err
        |  FROM subs JOIN cent USING (sub)),
        |codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id, sub ORDER BY err, code) AS rk FROM scored) t
        |  WHERE rk = 1),
        |qsubs AS (
        |  SELECT vec_id AS query_id, sub, sv FROM subs WHERE vec_id < 10),
        |lut AS (
        |  SELECT query_id, sub, code,
        |    ROUND(list_sum(list_transform(range(1, 9),
        |      j -> (sv[j] - cvec[j]) * (sv[j] - cvec[j]))), 6) AS d
        |  FROM qsubs JOIN cent USING (sub)),
        |adc AS (
        |  SELECT query_id, vec_id, ROUND(SUM(d), 6) AS adc
        |  FROM codes JOIN lut USING (sub, code) GROUP BY 1, 2)
        |SELECT query_id, vec_id, adc, CAST(rk AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY adc, vec_id) AS rk FROM adc) t
        |WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin,

    "v3_ivf_centroids" ->
      """SELECT label AS part, i,
        |  ROUND(AVG(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)), 6) AS c
        |FROM embeddings CROSS JOIN range(0, 64) r(i)
        |GROUP BY 1, 2 ORDER BY part, i""".stripMargin,

    "v4_ivf_topk" -> IvfTopKOracleSql,
    // identical semantics, persisted-index execution path
    "v10_ivf_persisted" -> IvfTopKOracleSql,
    "v11_recall_eval" -> RecallEvalOracleSql,

    "t14_top_ngrams" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
        |g AS (
        |  SELECT array_to_string(toks[i:i+1], ' ') AS ngram
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
        |c AS (SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1)
        |SELECT ngram, n FROM c ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    "t20_gopher_rules" -> {
      val stops = graft.functions.TextFunctions.LangProfiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        |m AS (
        |  SELECT doc_id, text, toks,
        |    CAST(len(toks) AS DOUBLE) AS nw,
        |    CASE WHEN len(toks) > 0
        |      THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
        |      ELSE 0 END AS mean_len,
        |    CASE WHEN len(toks) > 0 THEN
        |      (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
        |       + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3
        |       + CAST(length(text) - length(replace(text, '…', '')) AS DOUBLE))
        |      / len(toks) END AS sym_ratio,
        |    list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS lines,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS alpha_w,
        |    len(list_filter(list_distinct(toks), x -> list_contains($stops, x))) AS stop_hits
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    CAST(nw >= 50 AND nw <= 100000 AS INT) AS ok_word_count,
        |    CAST(mean_len >= 3 AND mean_len <= 10 AS INT) AS ok_mean_word_len,
        |    CAST(COALESCE(sym_ratio <= 0.1, FALSE) AS INT) AS ok_symbol_ratio,
        |    CAST(CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%')) AS DOUBLE)
        |         / GREATEST(CAST(len(lines) AS DOUBLE), 1.0) < 0.9 AS INT) AS ok_bullets,
        |    CAST(CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE)
        |         / GREATEST(CAST(len(lines) AS DOUBLE), 1.0) < 0.3 AS INT) AS ok_ellipses,
        |    CAST(COALESCE(alpha_w / NULLIF(nw, 0), 0) >= 0.8 AS INT) AS ok_alpha_words,
        |    CAST(stop_hits >= 2 AS INT) AS ok_stopwords
        |  FROM m)
        |SELECT *, ok_word_count * ok_mean_word_len * ok_symbol_ratio * ok_bullets
        |  * ok_ellipses * ok_alpha_words * ok_stopwords AS keep
        |FROM f ORDER BY doc_id""".stripMargin
    },

    "d10_blocked_editdist" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    string_split(p_name, ' ')[1] || '|' || CAST(p_size AS VARCHAR) AS blk
        |  FROM part)
        |SELECT a.p_partkey AS id1, b.p_partkey AS id2,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY id1, id2""".stripMargin,

    // sorted-neighborhood form: same block key, but candidates are the
    // `window`=10 sorted neighbors of each DISTINCT name, forward +
    // reversed-string passes, plus the reflexive same-name pairs. No
    // ORDER BY: pair-set contract, the gate's compare sorts both sides.
    "d15_editdist_sorted" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    string_split(p_name, ' ')[1] || '|' || CAST(p_size AS VARCHAR) AS blk
        |  FROM part),
        |names AS (SELECT DISTINCT blk, p_name AS n FROM p),
        |f AS (SELECT blk, n, row_number() OVER (PARTITION BY blk ORDER BY n) AS rn FROM names),
        |r AS (SELECT blk, n, row_number() OVER (PARTITION BY blk ORDER BY reverse(n), n) AS rn FROM names),
        |nb AS (
        |  SELECT a.blk, least(a.n, b.n) AS n1, greatest(a.n, b.n) AS n2
        |  FROM f a JOIN f b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 10
        |  UNION
        |  SELECT a.blk, least(a.n, b.n) AS n1, greatest(a.n, b.n) AS n2
        |  FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 10),
        |np AS (
        |  SELECT blk, n1, n2, CAST(levenshtein(n1, n2) AS INT) AS dist
        |  FROM nb
        |  WHERE abs(len(n1) - len(n2)) <= 2 AND levenshtein(n1, n2) <= 2
        |  UNION ALL
        |  SELECT blk, n, n, 0 FROM names),
        |x AS (
        |  SELECT least(a.p_partkey, b.p_partkey) AS id1,
        |    greatest(a.p_partkey, b.p_partkey) AS id2, np.dist
        |  FROM np JOIN p a ON a.blk = np.blk AND a.p_name = np.n1
        |          JOIN p b ON b.blk = np.blk AND b.p_name = np.n2
        |  WHERE np.n1 < np.n2 OR a.p_partkey < b.p_partkey)
        |SELECT id1, id2, dist FROM x""".stripMargin,

    // collapsed form: same SNM candidates, but one row per matched name
    // pair on the group representatives, with n_pairs multiplicities
    "d16_editdist_repdup" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    string_split(p_name, ' ')[1] || '|' || CAST(p_size AS VARCHAR) AS blk
        |  FROM part),
        |g AS (
        |  SELECT blk, p_name AS n, MIN(p_partkey) AS rep, COUNT(*) AS c
        |  FROM p GROUP BY blk, p_name),
        |f AS (SELECT blk, n, row_number() OVER (PARTITION BY blk ORDER BY n) AS rn FROM g),
        |r AS (SELECT blk, n, row_number() OVER (PARTITION BY blk ORDER BY reverse(n), n) AS rn FROM g),
        |nb AS (
        |  SELECT a.blk, least(a.n, b.n) AS n1, greatest(a.n, b.n) AS n2
        |  FROM f a JOIN f b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 10
        |  UNION
        |  SELECT a.blk, least(a.n, b.n) AS n1, greatest(a.n, b.n) AS n2
        |  FROM r a JOIN r b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 10),
        |np AS (
        |  SELECT blk, n1, n2, CAST(levenshtein(n1, n2) AS INT) AS dist
        |  FROM nb
        |  WHERE abs(len(n1) - len(n2)) <= 2 AND levenshtein(n1, n2) <= 2)
        |SELECT least(g1.rep, g2.rep) AS id1, greatest(g1.rep, g2.rep) AS id2,
        |  np.dist, CAST(g1.c * g2.c AS BIGINT) AS n_pairs
        |FROM np JOIN g g1 ON g1.blk = np.blk AND g1.n = np.n1
        |        JOIN g g2 ON g2.blk = np.blk AND g2.n = np.n2
        |UNION ALL
        |SELECT rep, rep, 0, CAST(c * (c - 1) // 2 AS BIGINT)
        |FROM g WHERE c > 1""".stripMargin,

    "t19_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_idx, toks
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, (len(toks) - 1) // 30 + 1)) AS i
        |        FROM t WHERE len(toks) > 0))
        |SELECT doc_id, chunk_idx,
        |  CAST(chunk_idx * 30 + 1 AS INT) AS start_tok,
        |  CAST(least(len(toks) - chunk_idx * 30, 50) AS INT) AS n_toks,
        |  md5(array_to_string(toks[chunk_idx * 30 + 1 : chunk_idx * 30 + 50], ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "t18_bigram_lm" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
        |g AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t)),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM g GROUP BY 1, 2),
        |w AS (
        |  SELECT *, CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
        |    CAST(row_number() OVER (PARTITION BY w1 ORDER BY c12 DESC, w2) AS INT) AS rk
        |  FROM c)
        |SELECT w1, w2, c12, c1, ROUND(CAST(c12 AS DOUBLE) / c1, 6) AS prob
        |FROM w WHERE rk = 1 AND c1 >= 100 ORDER BY w1""".stripMargin,

    "t15_inverted_index" ->
      s"""WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest($toksSql) AS term FROM documents)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings
        |FROM tok GROUP BY term HAVING COUNT(*) >= 100
        |ORDER BY term""".stripMargin,

    "t17_group_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,

    "t16_stratified_split" ->
      """SELECT lang,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "t1_token_stats" ->
      s"""SELECT doc_id,
        |  CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_lang_id" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang, $toksSql AS toks FROM documents),
        |r AS (
        |  SELECT doc_id, labeled_lang, len(toks) AS n,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','zu','ein'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','la','de','y','es','en','un'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','de','et','est','en','un'))) AS s_fr
        |  FROM t),
        |sc AS (
        |  SELECT doc_id, labeled_lang,
        |    CASE WHEN n > 0 THEN CAST(s_en AS DOUBLE)/n ELSE 0 END AS en,
        |    CASE WHEN n > 0 THEN CAST(s_de AS DOUBLE)/n ELSE 0 END AS de,
        |    CASE WHEN n > 0 THEN CAST(s_es AS DOUBLE)/n ELSE 0 END AS es,
        |    CASE WHEN n > 0 THEN CAST(s_fr AS DOUBLE)/n ELSE 0 END AS fr
        |  FROM r)
        |SELECT doc_id, labeled_lang,
        |  CASE
        |    WHEN fr > greatest(es, de, en, 0) THEN 'fr'
        |    WHEN es > greatest(de, en, 0) THEN 'es'
        |    WHEN de > greatest(en, 0) THEN 'de'
        |    WHEN en > 0 THEN 'en'
        |    ELSE 'und' END AS pred_lang,
        |  ROUND(en, 6) AS en_ratio
        |FROM sc ORDER BY doc_id""".stripMargin,

    "t3_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n,
        |    CASE WHEN len(toks) > 0
        |      THEN list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks)
        |      ELSE 0 END AS mean_len,
        |    CASE WHEN len(toks) > 0
        |      THEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in',
        |        'der','die','das','und','ist','zu','ein','el','la','de','y','es','en','un',
        |        'le','et','est'))) AS DOUBLE) / len(toks)
        |      ELSE 0 END AS stop
        |  FROM t)
        |SELECT doc_id,
        |  ROUND(least(n/50.0, 1.0)*0.4 +
        |        (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END)*0.3 +
        |        least(stop*5.0, 1.0)*0.3, 6) AS quality,
        |  CAST(n AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN ROUND(least(n/50.0, 1.0)*0.4 +
        |        (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.5 END)*0.3 +
        |        least(stop*5.0, 1.0)*0.3, 6) < 0.5 THEN 1 ELSE 0 END AS BIGINT) AS low_quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      s"""WITH sh AS (
        |  SELECT doc_id, text, ${shinglesSql(toksSql)} AS sh FROM documents)
        |SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_exact,
        |  md5(array_to_string(list_sort(list_distinct(list_transform(sh, s -> md5(s))))[1:4], '|')) AS fp_sketch
        |FROM sh ORDER BY doc_id""".stripMargin,

    // the decode oracle: a correct javax.imageio decode of the solid-fill
    // PNGs must return exactly these analytically-derived values
    "m1_media_features" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(16 + doc_id % 48 AS INT) AS decoded_width,
        |  CAST(16 + n_chars % 32 AS INT) AS decoded_height,
        |  CAST(3 AS INT) AS channels,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY media_id""".stripMargin,

    // analytic audio oracle: the decoded WAV facts are pure integer
    // functions of (doc_id, n_chars) — see Multimodal.audioSampleRate/
    // audioNumSamples/audioAmplitude
    "m5_audio_features" ->
      """SELECT doc_id AS media_id, 'audio' AS kind, CAST(1 AS INT) AS channels,
        |  CAST(8000 + 1000 * (doc_id % 5) AS BIGINT) AS sample_rate,
        |  CAST(400 + n_chars % 800 AS BIGINT) AS n_samples,
        |  CAST(1000 + doc_id % 9000 AS BIGINT) AS rms
        |FROM documents WHERE doc_id % 3 = 1
        |ORDER BY media_id""".stripMargin,

    // perceptual-hash goldens: DuckDB can't decode PNGs, but aHash is
    // bit-deterministic (lossless PNG round-trip, integer-only resize +
    // threshold), so a captured run is a stable oracle. Regenerate after
    // any intentional change to syntheticGradientPng/resizeImage/aHash:
    //   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/v m3_image_ahash m4_image_neardup
    //   cp /tmp/v/<q>/part-*.parquet goldens/<q>.parquet
    "m3_image_ahash" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/m3_image_ahash.parquet') ORDER BY media_id",
    "m4_image_neardup" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/m4_image_neardup.parquet') ORDER BY id1, id2",
    "m6_phash" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/m6_phash.parquet') ORDER BY media_id",
    "m7_audio_fingerprint" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/m7_audio_fingerprint.parquet') ORDER BY media_id, frame_idx",
    "m9f_tone_fingerprint" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/m9f_tone_fingerprint.parquet') ORDER BY media_id, frame_idx",
    "m10f_query_fingerprint" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/m10f_query_fingerprint.parquet') ORDER BY media_id, frame_idx",

    // t36: the d2 band CTEs split train/bench, cross-side collisions,
    // exact 3-gram jaccard verify on the candidate pairs
    "t36_near_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM documents),
        |$bandsSql,
        |tb AS (SELECT doc_id, b, sig FROM bands WHERE doc_id % 50 <> 0
        |       QUALIFY count(*) OVER (PARTITION BY b, sig) <= ${graft.operators.Decontaminate.MaxBucket}),
        |bb AS (SELECT doc_id AS bench_id, b, sig FROM bands WHERE doc_id % 50 = 0
        |       QUALIFY count(*) OVER (PARTITION BY b, sig) <= ${graft.operators.Decontaminate.MaxBucket}),
        |pairs AS (
        |  SELECT DISTINCT tb.doc_id, bb.bench_id
        |  FROM tb JOIN bb ON tb.b = bb.b AND tb.sig = bb.sig),
        |tsh AS (
        |  SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh
        |  WHERE doc_id IN (SELECT doc_id FROM pairs)),
        |bsh AS (
        |  SELECT DISTINCT doc_id AS bench_id, unnest(sh) AS s FROM sh
        |  WHERE doc_id IN (SELECT bench_id FROM pairs)),
        |nt AS (SELECT doc_id, count(*) AS n_t FROM tsh GROUP BY 1),
        |nb AS (SELECT bench_id, count(*) AS n_b FROM bsh GROUP BY 1),
        |shared AS (
        |  SELECT p.doc_id, p.bench_id, count(*) AS sh_n
        |  FROM pairs p
        |  JOIN tsh ON tsh.doc_id = p.doc_id
        |  JOIN bsh ON bsh.bench_id = p.bench_id AND bsh.s = tsh.s
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT p.doc_id,
        |    ROUND(COALESCE(sh_n, 0) /
        |          CAST(n_t + n_b - COALESCE(sh_n, 0) AS DOUBLE), 6) AS jac
        |  FROM pairs p
        |  LEFT JOIN shared USING (doc_id, bench_id)
        |  JOIN nt USING (doc_id)
        |  JOIN nb USING (bench_id)),
        |agg AS (SELECT doc_id, count(*) AS n_bench_candidates,
        |               MAX(jac) AS max_jaccard
        |        FROM j GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(agg.n_bench_candidates, 0) AS n_bench_candidates,
        |  COALESCE(agg.max_jaccard, 0.0) AS max_jaccard,
        |  CAST(COALESCE(agg.max_jaccard, 0.0) >= 0.5 AS INT) AS contaminated
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin,

    // m10: join + offset votes + top-1 recomputed INDEPENDENTLY from the
    // two fingerprint goldens (index = m9f, queries = m10f)
    "m10_audio_match" ->
      """WITH qf AS (
        |  SELECT media_id AS query_id, frame_idx AS qf, fp
        |  FROM read_parquet('/root/repo/goldens/m10f_query_fingerprint.parquet')
        |  WHERE fp <> -1),
        |idx AS (
        |  SELECT media_id, frame_idx AS ifx, fp
        |  FROM read_parquet('/root/repo/goldens/m9f_tone_fingerprint.parquet')
        |  WHERE fp <> -1),
        |kept AS (SELECT fp FROM idx GROUP BY fp HAVING count(*) <= 10000),
        |v AS (
        |  SELECT query_id, media_id, qf - ifx AS delta, count(*) AS votes
        |  FROM qf JOIN idx USING (fp) JOIN kept USING (fp)
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 1),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY votes DESC, media_id, delta) AS rk
        |      FROM v)
        |SELECT query_id, media_id, delta, votes FROM r WHERE rk = 1
        |ORDER BY query_id""".stripMargin,

    // m9: buckets + containment verify + CC recomputed INDEPENDENTLY from
    // the m9f fingerprint golden (not an output golden) — the m8 pattern
    // at the audio modality
    "m9_audio_dedup" ->
      """WITH RECURSIVE f AS (
        |  SELECT DISTINCT media_id, fp
        |  FROM read_parquet('/root/repo/goldens/m9f_tone_fingerprint.parquet')),
        |fnz AS (SELECT media_id, fp FROM f WHERE fp <> -1),
        |pm AS (SELECT media_id, count(*) AS nfp FROM fnz GROUP BY media_id),
        |buckets AS (SELECT fp FROM fnz GROUP BY fp
        |            HAVING count(*) BETWEEN 2 AND 10000),
        |bk AS (SELECT fnz.media_id, fnz.fp FROM fnz JOIN buckets USING (fp)),
        |shared AS (
        |  SELECT a.media_id AS id1, b.media_id AS id2, count(*) AS shared_fps
        |  FROM bk a JOIN bk b ON a.fp = b.fp AND a.media_id < b.media_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id1, id2 FROM shared
        |  JOIN pm p1 ON id1 = p1.media_id
        |  JOIN pm p2 ON id2 = p2.media_id
        |  WHERE shared_fps >= 1
        |    AND ROUND(shared_fps / CAST(LEAST(p1.nfp, p2.nfp) AS DOUBLE), 6) >= 0.8),
        |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |reach(n, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n),
        |cc AS (SELECT n AS node, MIN(r) AS component FROM reach GROUP BY n)
        |SELECT m.media_id,
        |  COALESCE(cc.component, m.media_id) AS component,
        |  CAST(CASE WHEN m.media_id = COALESCE(cc.component, m.media_id)
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM (SELECT DISTINCT media_id FROM f) m
        |LEFT JOIN cc ON cc.node = m.media_id
        |ORDER BY m.media_id""".stripMargin,

    // CCNet perplexity filter: identical add-one bigram LM + 1e-6
    // fixed-point log-prob sums (ln on count ratios, the t24 precedent)
    "t35_perplexity_filter" ->
      s"""WITH toks AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
        |bi AS (
        |  SELECT doc_id, lang, s, string_split(s, ' ')[1] AS w1
        |  FROM (SELECT doc_id, lang,
        |          unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS s
        |        FROM toks)),
        |cb AS (SELECT s, count(*) AS cb FROM bi WHERE lang = 'en' GROUP BY s),
        |cu AS (SELECT string_split(s, ' ')[1] AS w1, sum(cb) AS cu FROM cb GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM cu),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    sum(CAST(ROUND(ln((COALESCE(cb, 0) + 1) /
        |          CAST(COALESCE(cu, 0) + GREATEST((SELECT v FROM v), 1) AS DOUBLE)) * 1e6)
        |        AS BIGINT)) AS sum_logp_e6
        |  FROM bi LEFT JOIN cb USING (s) LEFT JOIN cu USING (w1)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |  CAST(COALESCE(s.sum_logp_e6, 0) AS BIGINT) AS sum_logp_e6,
        |  CAST(COALESCE(s.n_bigrams, 0) > 0 AND
        |       -COALESCE(s.sum_logp_e6, 0) <= COALESCE(s.n_bigrams, 0) * 3450000
        |       AS INT) AS keep
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "t40_ppl_buckets" ->
      s"""WITH toks AS (SELECT doc_id, lang, $toksSql AS t FROM documents),
        |bi AS (
        |  SELECT doc_id, lang, s, string_split(s, ' ')[1] AS w1
        |  FROM (SELECT doc_id, lang,
        |          unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS s
        |        FROM toks)),
        |cb AS (SELECT s, count(*) AS cb FROM bi WHERE lang = 'en' GROUP BY s),
        |cu AS (SELECT string_split(s, ' ')[1] AS w1, sum(cb) AS cu FROM cb GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM cu),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    sum(CAST(ROUND(ln((COALESCE(cb, 0) + 1) /
        |          CAST(COALESCE(cu, 0) + GREATEST((SELECT v FROM v), 1) AS DOUBLE)) * 1e6)
        |        AS BIGINT)) AS sum_logp_e6
        |  FROM bi LEFT JOIN cb USING (s) LEFT JOIN cu USING (w1)
        |  GROUP BY doc_id),
        |base AS (
        |  SELECT d.doc_id, d.lang, CAST(s.n_bigrams AS BIGINT) AS n_bigrams,
        |    CAST((-s.sum_logp_e6) // s.n_bigrams AS BIGINT) AS avg_nll_e6
        |  FROM documents d JOIN scored s USING (doc_id)
        |  WHERE s.n_bigrams > 0)
        |SELECT doc_id, lang, n_bigrams, avg_nll_e6,
        |  ['head', 'middle', 'tail'][ntile(3) OVER (
        |    PARTITION BY lang ORDER BY avg_nll_e6, doc_id)] AS bucket
        |FROM base ORDER BY doc_id""".stripMargin,

    // golden parquet (K-Means cluster assignment is not expressible in
    // DuckDB — ml1–ml5 precedent); regenerate with the same recipe as m3/m4
    "d17_semdedup" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/d17_semdedup.parquet') ORDER BY vec_id",
    "d20_semdedup_scaled" ->
      "SELECT * FROM read_parquet('/root/repo/goldens/d20_semdedup_scaled.parquet') ORDER BY vec_id",

    "m2_frame_sample" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |frames AS (
        |  SELECT media_id, n_bytes // 100 + 1 AS n_frames FROM media WHERE kind = 'video')
        |SELECT media_id, n_frames, frame_idx,
        |  md5(CAST(media_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_hash
        |FROM (SELECT media_id, n_frames, unnest(range(0, n_frames, 2)) AS frame_idx FROM frames)
        |ORDER BY media_id, frame_idx""".stripMargin,
  )
}
