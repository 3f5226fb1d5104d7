package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, each designed so
  * the candidate-generation step is a shuffle on a small key (band
  * signature / simhash bucket) rather than an O(n²) cross join — the only
  * thing that survives 100 TB.
  *
  * Reference analogy: the reference dedups alerts by md5 of flow titles
  * (`/root/reference/src/org/hogzilla/util/HogStringUtils.scala:32-35`);
  * here that generalizes to document-level exact + near-dup detection.
  *
  * Hash portability: md5 hex strings ordered lexicographically, so the
  * DuckDB oracle reproduces every signature bit-for-bit.
  */
object Dedup {

  val ShingleSize = 3
  val NumPerms = 12 // MinHash permutations
  val NumBands = 3 //  → 4 rows per band; P(candidate) = 1-(1-j^4)^3
  val SimHashBits = 32

  /** Universal-hash modulus (prime 2^31−1): keeps every product below
    * 2^62 so the arithmetic never overflows a 64-bit long in either
    * engine (DuckDB raises on overflow; the JVM would silently wrap).
    */
  val HashMod = 2147483647L

  /** Fixed (a, b) multiplier/offset pairs — the 12 MinHash "permutations"
    * h_p(x) = (a_p·x + b_p) mod HashMod over the shared 60-bit content
    * hash. Arbitrary odd constants, inlined identically in the oracle SQL.
    */
  val Perms: Seq[(Long, Long)] = Seq(
    (1664525L, 1013904223L), (22695477L, 1L), (1103515245L, 12345L),
    (134775813L, 1L), (214013L, 2531011L), (69069L, 0L),
    (1103515245L, 386910293L), (48271L, 0L), (16807L, 552265445L),
    (1313057L, 777777777L), (100000037L, 999999999L), (630360016L, 123456789L))

  /** First `n` permutation pairs: the fixed 12 above (so every existing
    * signature is a prefix-stable special case), extended past 12 by a
    * deterministic formula — odd multipliers and offsets in [0, 2^31),
    * the same overflow-safe envelope as the fixed set, reproducible in
    * any engine from the index alone (the oracle SQL inlines the SAME
    * computed constants). Production MinHash runs want ~128
    * permutations (RefinedWeb/Gopher-class dedup uses 9000-bit
    * signatures banded to a Jaccard threshold); `n` is the recall dial.
    */
  def permsFor(n: Int): Seq[(Long, Long)] = {
    require(n >= 1 && n <= 1024, s"numPerms=$n out of range")
    if (n <= Perms.length) Perms.take(n)
    else Perms ++ (Perms.length until n).map { i =>
      // Weyl-style extension: i scaled by large odd constants, reduced
      // into the multiplier envelope; `| 1` keeps a odd (invertible-ish
      // spread over the modulus), all terms < 2^62 pre-reduction
      val a = ((2654435761L * (i + 1L)) % HashMod) | 1L
      val b = (1779033703L * (i + 7L) + 2600822924L * i * i) % HashMod
      (a, b)
    }
  }

  /** Portable 60-bit content hash, reduced mod HashMod: the first 15 hex
    * chars of md5, parsed as an integer (Spark `conv`, DuckDB
    * `('0x'||…)::BIGINT`). ONE md5 per shingle — the 12 permutation
    * values derive arithmetically, which is 12× fewer digest calls than
    * hashing (perm, shingle) pairs.
    */
  def contentHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % HashMod

  /** (doc_id, band, sig): one row per LSH band; docs sharing (band, sig)
    * are near-dup candidates. Input df must have (doc_id, text).
    *
    * Row-local: the compiled [[graft.expressions.MinhashSig]] kernel
    * folds shingle assembly, md5 and every permutation minimum into one
    * codegen expression per row — no window, no groupBy, zero shuffles —
    * so it also runs as a per-row projection inside a Structured
    * Streaming query (the stream side of a stream-static candidate
    * join). A token-exploding batch form pays a doc_id exchange of every
    * token row plus an aggregate exchange, and the interpreted
    * `transform`+`slice` HOF form costs 6-8 s per 5k docs against the
    * kernel's ~0.5 s. Bit-identical output is spec-pinned against a
    * from-scratch SQL-expression reference pipeline (PipelineSpec
    * "lshBands … bit-identical to the SQL-expression reference").
    */
  def lshBands(df: DataFrame, numPerms: Int = NumPerms,
      numBands: Int = NumBands): DataFrame = {
    require(numBands >= 1 && numPerms % numBands == 0,
      s"numPerms=$numPerms must divide into numBands=$numBands")
    val rows = numPerms / numBands
    val perms = permsFor(numPerms)
    // shingle assembly → md5 → 60-bit hash → per-permutation minimum,
    // in ONE codegen expression over the token array
    val sigArr = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.MinhashSig(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens(col("text"))),
        ShingleSize, perms.map(_._1).toArray, perms.map(_._2).toArray, HashMod))
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rows).map(r => col("mhs")(b * rows + r).cast("string")): _*).as("sig"))
    }
    df.select(col("doc_id"), col("text"))
      // <ShingleSize tokens ⇒ no shingles ⇒ no signature;
      // tokens-size form keeps the filter codegen and off the hash array
      .filter(size(tokens(col("text"))) >= ShingleSize)
      .select(col("doc_id"), sigArr.as("mhs"))
      .select(col("doc_id"), explode(array(bands: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Candidate near-dup pairs from LSH: docs sharing a (band, sig)
    * bucket, through [[Buckets.pairs]] (one shuffle on the bucket key,
    * pairs expanded row-locally, buckets past `maxBucket` dropped).
    * Returns (doc1, doc2, n_bands) with doc1 < doc2.
    */
  def lshCandidatePairs(df: DataFrame, maxBucket: Int = 10000,
      numPerms: Int = NumPerms, numBands: Int = NumBands): DataFrame =
    Buckets.pairs(lshBands(df, numPerms, numBands), Seq("band", "sig"), "doc_id",
      maxBucket, "doc1", "doc2", "n_bands")

  /** Exact n-gram Jaccard verification of candidate pairs. Shingle sets
    * are computed ONCE PER DOCUMENT over the set of docs that appear in
    * any candidate pair (left_semi prune), then joined onto the pairs —
    * never per pair. This matters precisely when dedup matters: in a
    * clone-heavy corpus a document sits in O(cloneGroup) candidate pairs,
    * and building its shingle set per pair turns the verify stage
    * quadratic in clone-group size (observed 110× blowup at a 10×
    * scale-up of a fully-duplicated corpus; per-doc precompute restores
    * ~linear cost — the same fix simhashCandidatePairs carries).
    */
  def ngramJaccardPairs(df: DataFrame, minJaccard: Double): DataFrame = {
    // the pair list feeds the doc-set prune, the clone-collapse mapping,
    // and the final expansion; pin it (it's the small post-LSH set) so
    // minhashing runs once
    val pins = Pin.scope()
    val cands = pins.truncate(lshCandidatePairs(df), eager = false)
    val docsInPairs = cands.select(col("doc1").as("doc_id"))
      .union(cands.select(col("doc2").as("doc_id"))).distinct()
    // Clone collapse: the expensive part of the verify is shipping each
    // doc's shingle ARRAY to every pair it appears in, and in a
    // clone-heavy corpus (exactly where dedup matters) a group of k
    // byte-identical docs sits in O(k²) candidate pairs. Byte-identical
    // text ⇒ identical shingle set ⇒ identical jaccard, so verify ONCE
    // per distinct (text-hash, text-hash) pair and join the verdict back
    // to the doc-level pairs. The key is md5 of the RAW text — the
    // normalized exact-dedup fingerprint would be lossy here (it
    // lowercases, and shingles are case-sensitive). On a 10×-clone
    // corpus this cuts the array-join volume ~100×; on a clone-free one
    // it adds three small-key shuffles over the bounded pair set.
    val fps = pins.truncate(df.join(docsInPairs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), md5(col("text")).as("fp")), eager = false)
    // adaptive: one tiny aggregate over the (LSH-bounded) paired-doc set
    // decides whether the collapse machinery pays for its three extra
    // shuffles. The win is quadratic in clone-GROUP size, so a corpus
    // needs material clone mass before collapse amortizes: at a natural
    // ~0.2% exact-clone rate the direct join is cheaper, while a
    // clone-replica corpus (90% of paired docs sharing a text) is where
    // the ~100× array-join reduction lives. Engage collapse only when
    // ≥10% of the paired docs are clones. Both paths produce identical
    // output (randomized parity spec); the decision is pure execution
    // strategy.
    val Array(nDocs, nTexts) = fps
      .agg(count(lit(1)), count_distinct(col("fp"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val hasClones = nTexts < (nDocs * 9) / 10
    System.err.println(s"[dedup] ngramJaccardPairs: $nDocs paired docs, " +
      s"$nTexts distinct texts -> ${if (hasClones) "clone-collapse" else "direct"} verify")

    // pairs: (k1, k2, ...); sets: (k, sh) → pairs + jaccard, thresholded
    def jaccardOf(pairs: DataFrame, sets: DataFrame): DataFrame = pairs
      .join(sets.select(col("k").as("k1"), col("sh").as("sh1")), Seq("k1"))
      .join(sets.select(col("k").as("k2"), col("sh").as("sh2")), Seq("k2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard", round(col("inter") / col("uni"), 6))
      .filter(col("jaccard") >= minJaccard)

    val resolved =
      if (!hasClones) {
        // direct: per-doc shingle sets joined straight onto the pairs
        val shingleSets = df.join(docsInPairs, Seq("doc_id"), "left_semi")
          .select(col("doc_id").as("k"),
            array_distinct(shingles(tokens(col("text")), ShingleSize)).as("sh"))
        jaccardOf(cands.select(col("doc1").as("k1"), col("doc2").as("k2"),
            col("doc1"), col("doc2")), shingleSets)
          .select(col("doc1"), col("doc2"), col("jaccard"))
      } else {
        val candsFp = cands
          .join(fps.select(col("doc_id").as("doc1"), col("fp").as("fp1")), Seq("doc1"))
          .join(fps.select(col("doc_id").as("doc2"), col("fp").as("fp2")), Seq("doc2"))
        val repPairs = candsFp.select(col("fp1").as("k1"), col("fp2").as("k2")).distinct()
        // one representative doc per distinct text among the paired docs
        val repDoc = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        val shingleSets = df.join(repDoc, Seq("doc_id"), "left_semi")
          .select(md5(col("text")).as("k"),
            array_distinct(shingles(tokens(col("text")), ShingleSize)).as("sh"))
        candsFp.join(jaccardOf(repPairs, shingleSets)
            .select(col("k1").as("fp1"), col("k2").as("fp2"), col("jaccard")),
          Seq("fp1", "fp2"))
          .select(col("doc1"), col("doc2"), col("jaccard"))
      }
    // materialize the (LSH-bounded) verified-pair set eagerly so the
    // one-shot pins can be released HERE instead of leaking until GC
    val out = Pin.truncate(resolved)
    pins.release()
    out
  }

  /** DataFrame-level SimHash: one compiled row-local pass per document
    * ([[graft.expressions.SimhashSig]]) — per token, bit `b` of
    * md5(token) votes ±1, signature bit b is 1 iff the vote sum is
    * positive. No explode, no aggregate, no exchange; the corpus keeps
    * its scan partitioning. Returns (idCol, sh), one row per input doc
    * with ≥1 token (the exploded form's contract).
    *
    * `bits` is the signature-width dial (default the fixture-friendly
    * 32; production near-dup runs use the Manku/WWW'07 64-bit width).
    * At 64 bits the signature occupies the FULL signed long: bit 63 is
    * the sign bit (1L << 63 == Long.MinValue — exact two's-complement
    * arithmetic, identical in any engine with signed 64-bit ints; the
    * oracle SQL builds the same value as (1 << 62) · −2 because DuckDB
    * raises on a literal 1 << 63). Downstream bucketing on a possibly-
    * negative signature must use sign-safe ops — bitwiseAND masks or
    * pmod, never `%`.
    */
  def simhashOf(df: DataFrame, idCol: String, textCol: String,
      bits: Int = SimHashBits): DataFrame = {
    require(bits % 4 == 0 && bits >= 4 && bits <= 64, s"bits=$bits")
    // Since r13 the whole tokenize → per-token md5 → bit-vote → signature
    // pass runs in ONE compiled row-local expression
    // ([[graft.expressions.SimhashSig]], the MinhashSig pattern): the old
    // exploded aggregate materialized a row per token, projected 16 hex
    // digits off each md5 and updated a `bits`-column hash aggregate per
    // token row. Bit-identical by construction (and pinned by the
    // PipelineSpec parity tests against an independent row-local HOF
    // reference plus the 32/64-bit cross-checks). The zero-token filter keeps
    // the exploded form's output contract: docs whose text tokenizes to
    // nothing produced no exploded rows and were ABSENT from the
    // aggregate's output. NOTE: one signature per input ROW — the old
    // groupBy would have merged duplicate ids (no caller feeds those).
    val sh = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.SimhashSig(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens(col(textCol))),
        bits))
    df.filter(size(tokens(col(textCol))) >= 1)
      .select(col(idCol), sh.as("sh"))
  }

  /** Hamming distance between two simhash values: popcount of the XOR —
    * a single codegen'd expression (`bit_count`), no per-bit lambda loop.
    */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Connected components over near-dup candidate pairs, via alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014). Input: (doc1, doc2)
    * edge rows. Output: (node, component) where component is the minimum
    * doc id in the node's component; only nodes that appear in an edge
    * are returned (singletons are trivially their own component —
    * [[resolveDuplicates]] coalesces them back in).
    *
    * Why this and not one-hop min-label propagation: propagation needs
    * O(graph diameter) rounds — a 10M-doc boilerplate chain would take
    * thousands of shuffles — while star contraction converges in
    * O(log n) rounds regardless of diameter. Each round is two
    * window-min passes over the node key plus one dedup exchange (never
    * a collect of neighbor lists), and per-round lineage truncation
    * ([[Pin.truncate]]) keeps the plan from growing by two passes per
    * round.
    *
    * Window-partition sizing: a window over the node key co-locates all
    * of a node's edges, which would be a skew hazard for an unbounded
    * hub — but this graph's edges come from the candidate generators,
    * whose megabucket guards cap per-doc degree at bands × maxBucket by
    * construction, so no window partition can exceed that bound. Feeding
    * edges from an UNCAPPED source is the caller's skew risk to manage.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      pairsDistinct: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // non-eager truncation: the round's signature aggregate is the action
    // that materializes the blocks, so each round runs ONE job (an eager
    // one would spend a separate job just materializing)
    def truncate(df: DataFrame): DataFrame = Pin.truncate(df, eager = false)

    // canonical directed form: (u, v) with u > v, no self-loops, distinct
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

    // Both stars compute "per-node neighborhood minimum, attached back to
    // every edge of the node" — a WINDOW min over the node key, not a
    // groupBy-min + self-join: one shuffle on u instead of two, and less
    // shuffle volume (the join re-shuffled the full edge list anyway, so
    // the window loses nothing to map-side combining that the join path
    // actually had). Hub-node skew is identical in both shapes: all of a
    // node's edges co-locate either way.
    val perNode = Window.partitionBy(col("u"))

    // large-star: every node u links its strictly-larger neighbors to
    // m(u) = min(Γ(u) ∪ {u}). Output is NOT deduplicated — small-star's
    // window min is multiplicity-blind and the round's final canon()
    // dedups, so an intermediate distinct would be a pure extra shuffle.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      sym.withColumn("m", least(col("u"), min(col("v")).over(perNode)))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }

    // small-star: every node u links its smaller neighbors AND itself to
    // the minimum of those neighbors (self-edges duplicate per input row;
    // canon's distinct collapses them)
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.withColumn("m", min(col("v")).over(perNode))
      canon(withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v"))))
    }

    // convergence = the canonical edge SET is stable round-over-round.
    // Compared via an order-independent (count, xor-of-xxhash64) signature
    // instead of except()-based set difference: the signature is one tiny
    // aggregate over the round's already-checkpointed blocks and the
    // previous round's value is remembered, so each round pays ONE cheap
    // job where the set-difference check paid a 4-shuffle action over both
    // frames. XOR is exact on a distinct edge set (each edge contributes
    // once) and can't overflow under ANSI; collision odds ~2^-64/round —
    // negligible next to maxIter.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // `pairsDistinct = true` (the LSH/simhash candidate generators emit
    // distinct doc1<doc2 pairs from a groupBy) skips the initial dedup
    // exchange: orientation flip + self-loop filter are row-local
    val edges0 = pairs.select(col("doc1").as("u"), col("doc2").as("v"))
    var cur = truncate(
      if (pairsDistinct)
        edges0.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
          .filter(col("u") =!= col("v"))
      else canon(edges0))
    var curSig = signature(cur)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = truncate(smallStar(largeStar(cur)))
      val nextSig = signature(next)
      converged = nextSig == curSig
      cur = next
      curSig = nextSig
      i += 1
    }
    // partially-contracted labels are silently WRONG downstream (dedup
    // resolution would keep duplicates with no signal) — fail loudly
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "raise maxIter (rounds grow ~log of the largest component diameter)")
    // labels: every edge is (node → root) at the fixpoint; roots label
    // themselves. ONE distinct over the union (root rows duplicate per
    // out-edge) instead of a pre-distinct on roots plus a second distinct.
    cur.select(col("u").as("node"), col("v").as("component"))
      .union(cur.select(col("v").as("node"), col("v").as("component")))
      .distinct()
  }

  /** Full dedup resolution: candidate pairs → components → one canonical
    * document per component (the longest text wins, ties to the smallest
    * doc_id — "keep the richest copy"). Returns one row per input doc:
    * (doc_id, component, canonical_doc, keep). Docs in no candidate pair
    * are singleton components and always kept. The per-component pick is
    * a window over the component key — one shuffle, no driver state.
    */
  def resolveDuplicates(docs: DataFrame, pairs: DataFrame,
      pairsDistinct: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponents(pairs, pairsDistinct = pairsDistinct)
    val withComp = docs
      .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    withComp
      .withColumn("canonical_doc", first(col("doc_id")).over(w))
      .withColumn("keep", (col("doc_id") === col("canonical_doc")).cast("boolean"))
      .select(col("doc_id"), col("component"), col("canonical_doc"), col("keep"))
  }

  /** SimHash-banded near-dup candidates: docs sharing the low
    * `bucketBits` of their simhash pair up, then exact Hamming distance
    * filters. The bucket join is the scale path (O(n) shuffle on the
    * band, never all-pairs); banding trades recall for that bound —
    * near-dups differing inside the band bits are missed, the standard
    * SimHash-LSH compromise.
    */
  def simhashCandidatePairs(df: DataFrame, bucketBits: Int, maxHamming: Int,
      maxBucket: Int = 10000, bits: Int = SimHashBits): DataFrame =
    // (No clone collapse here, unlike ngramJaccardPairs: the per-pair
    // work is one scalar XOR+popcount, so this operator is bound by its
    // OUTPUT pair volume — which a collapse cannot shrink — and measured
    // collapse overhead exceeded its savings at both 1× and 10× clones.)
    bandedHammingPairs(simhashOf(df, "doc_id", "text", bits), "doc_id", Nil,
        bucketBits, maxHamming, maxBucket)
      .select(col("doc1"), col("doc2"), col("hamming"))

  /** The banded self-join shared by the SimHash generators: `sigs` is
    * (id, sh, carry…); rows sharing the low `bucketBits` of `sh`
    * pair through [[Buckets.selfJoin]] under the [[Buckets.sized]] cap.
    * Returns (doc1, doc2, hamming, carry… suffixed 1 and 2), doc1 < doc2,
    * hamming ≤ `maxHamming`.
    *
    * The repartition on the bucket is load-bearing: without an exchange
    * barrier, CollapseProject inlines the (expensive) simhash expression
    * into the join output and recomputes it PER PAIR; shuffling on the
    * bucket materializes one signature per document, the bucket-size
    * window rides that exchange, and the two join sides share it
    * (ReuseExchange). `pmod` (not %) keys the bucket: at bits=64 the
    * signature can be negative and % would emit negative buckets.
    */
  private def bandedHammingPairs(sigs: DataFrame, id: String, carry: Seq[String],
      bucketBits: Int, maxHamming: Int, maxBucket: Int): DataFrame = {
    val banded = Buckets.sized(
      sigs.withColumn("bucket", pmod(col("sh"), lit(1L << bucketBits)))
        .repartition(col("bucket")),
      Seq("bucket"), 1, maxBucket)
    def side(i: Int) = banded.select(col("bucket") +: col(id).as(s"doc$i") +:
      col("sh").as(s"sh$i") +: carry.map(c => col(c).as(s"$c$i")): _*)
    Buckets.selfJoin(side(1), side(2), col("doc2"), 1 << bucketBits, maxBucket)
      .filter(col("doc1") < col("doc2"))
      .withColumn("hamming", hammingDistance(col("sh1"), col("sh2")))
      .filter(col("hamming") <= maxHamming)
  }

  /** Production form of [[simhashCandidatePairs]]: near-dup pairs at the
    * level of DISTINCT TEXTS (clone groups), with multiplicities, instead
    * of one row per expanded doc pair. The expanded contract is
    * output-bound on a clone-heavy corpus — a group of k byte-identical
    * docs alone owns k·(k−1)/2 rows, quadratic in clone count, and at
    * 100 TB nobody wants those rows materialized (measured: 60 s at 10×
    * clones for d6 vs clone-count-independent here). Returns
    *   (doc1, doc2, hamming, n_pairs)
    * where doc1/doc2 are clone-group representatives (min doc_id of each
    * distinct text); a cross-group row carries n_pairs = |group1|·|group2|
    * expanded pairs, and a doc1 = doc2 row carries the group's internal
    * k·(k−1)/2 exact-dup pairs at hamming 0. Expanding every row through
    * the group membership reproduces [[simhashCandidatePairs]] exactly
    * while no band bucket saturates `maxBucket` (parity-tested).
    *
    * Scale shape: the clone collapse is one md5 groupBy
    * ([[Buckets.cloneGroups]]); simhash is computed once per DISTINCT
    * text; the band self-join runs on the collapsed set.
    */
  def simhashRepPairs(df: DataFrame, bucketBits: Int, maxHamming: Int,
      maxBucket: Int = 10000): DataFrame = {
    // pinned (r13): `groups` feeds THREE consumers — the rep-doc semi
    // join, the signature join, and the intra-group branch — and Catalyst
    // re-evaluated the md5-of-text groupBy per reference (the d12 plan
    // held 14 parquet scans / 30 exchanges; pinned it is one evaluation
    // and the consumers read executor-local blocks). Two narrow longs a
    // row (the fp key is dropped — no consumer reads it), one row per
    // distinct text: cheap to materialize at any scale.
    val groups = Buckets.cloneGroups(
        df.select(col("doc_id"), md5(col("text")).as("fp")), Seq(col("fp")), "doc_id")
      .drop("fp")
      .transform(Pin.truncate(_))
    // signatures once per distinct text, on each group's representative
    val repDocs = df.join(groups.select(col(Buckets.Rep).as("doc_id")), Seq("doc_id"), "left_semi")
    val sigs = groups.select(col(Buckets.Rep), col(Buckets.Clones))
      .join(simhashOf(repDocs, "doc_id", "text").withColumnRenamed("doc_id", Buckets.Rep),
        Seq(Buckets.Rep))
    val cross = bandedHammingPairs(sigs, Buckets.Rep, Seq(Buckets.Clones),
        bucketBits, maxHamming, maxBucket)
      .select(col("doc1"), col("doc2"), col("hamming"),
        (col(Buckets.Clones + "1") * col(Buckets.Clones + "2")).as("n_pairs"))
    // intra-group rows: banding can't miss them — identical text,
    // identical signature
    cross.unionByName(Buckets.intraPairs(groups, "doc1", "doc2", lit(0L).as("hamming")))
  }

  /** Sorted-neighborhood SimHash candidates (the Manku/Das/Sarma
    * near-duplicate index shape, WWW'07): instead of banding the
    * signature space into buckets and self-joining (quadratic per
    * bucket, so a hot bucket needs a cap — [[simhashCandidatePairs]]'s
    * `maxBucket` guard silently bounds recall on dense corpora), sort
    * the corpus by several NIBBLE-ROTATED views of the signature and
    * pair each doc with its `window` successors in each sort order. Two
    * signatures within a few bits of each other agree on their high
    * nibbles in whichever rotation pushes the differing nibbles to the
    * bottom, so they sort near each other there.
    *
    * Cost is O(rotations · n log n) shuffle-sort + O(rotations · window
    * · n) exact Hamming checks — NO quadratic stage, no caps, no
    * degenerate-key risk (signature bytes are hash-uniform), which makes
    * this the 100 TB candidate generator. Each rotation's sort is
    * partitioned by the key's top `blockBits` bits (deterministic
    * blocks, so results are engine-reproducible; a pair straddling a
    * block boundary in one rotation is interior in another — raise
    * `blockBits` for cluster-scale parallelism).
    *
    * Emits canonical (doc1 < doc2) pairs with exact Hamming ≤
    * `maxHamming`. Byte-identical clones have identical keys in every
    * rotation and adjacent (doc_id-ordered) sort positions, so
    * hamming-0 chains always surface without a dedicated exact pass.
    */
  def simhashSortedNeighborPairs(df: DataFrame, maxHamming: Int,
      window: Int = 6, blockBits: Int = 6, bits: Int = SimHashBits): DataFrame = {
    require(blockBits >= 1 && blockBits <= 16, s"blockBits=$blockBits")
    require(bits % 4 == 0 && bits >= 8 && bits <= 64, s"bits=$bits")
    val nibbles = bits / 4
    // ONE window pass for ALL rotations (r12): the per-rotation union
    // form ran `nibbles` separate Exchange+WindowExec branches (each
    // rescanning a truncated pin of the signature table — 16 exchanges
    // / 16 window sorts / 16 checkpoint scans at bits=64); the rotation
    // id is data, not plan structure, so all rotation keys explode
    // row-locally into (doc_id, sh, t, k) and ONE exchange on the
    // compound (t, blk) key sorts every rotation's blocks in a single
    // stage. Per-(t) slices of the compound window are exactly the old
    // per-branch windows (same partition boundaries, same (k, doc_id)
    // order, same `window` leads), so the emitted pair set is identical
    // — sf0.1: 5.0 → 2.6 s (d13v), plan 18 Exchange → 3. The signature
    // table now has exactly one consumer, so the d4-pattern
    // pin that kept the tokenize+md5+vote aggregation from
    // re-running per branch is no longer load-bearing and its extra
    // materialization pass is dropped with the branches.
    //
    // Rotation key semantics (unchanged): output nibble j of rotation t
    // takes input nibble (j + t) mod nibbles. Shifts are LOGICAL
    // (shiftrightunsigned) so a 64-bit signature's sign bit gathers like
    // any other nibble; at widths < 64 the signature is non-negative and
    // unsigned == arithmetic, so the 32-bit path is bit-identical to its
    // pinned oracle. Nibble (not byte) granularity: a pair differing in
    // k bits dirties ≤ k nibbles, and some rotation pushes them low,
    // keeping the pair's key distance — and hence the number of
    // interposing docs in the sort — small. (At bits=64 the rotated key
    // itself can be negative; the sort and the block split below are
    // then over the SIGNED order — one extra block boundary at the sign
    // flip, the same bounded recall effect as any other block edge.)
    val sh = simhashOf(df, "doc_id", "text", bits)
    val rotKeys = (0 until nibbles).map { t =>
      (0 until nibbles).map { j =>
        shiftleft(
          shiftrightunsigned(col("sh"), 4 * ((j + t) % nibbles)).bitwiseAND(lit(15L)),
          4 * j)
      }.reduce(_ bitwiseOR _)
    }
    // the rotation index rides the partition key: two DIFFERENT rotations
    // t1≠t2 can produce the SAME k for different docs, and the old form
    // kept those in separate windows — (t, blk) preserves that exactly
    val keyedT = sh
      .select(col("doc_id"), col("sh"),
        explode(array((0 until nibbles).map(t =>
          struct(lit(t).as("t"), rotKeys(t).as("k"))): _*)).as("r"))
      .select(col("doc_id"), col("sh"), col("r.t").as("t"), col("r.k").as("k"))
      .withColumn("blk", shiftright(col("k"), bits - blockBits))
    Buckets.neighbors(keyedT, Seq(col("t"), col("blk")), Seq(col("k"), col("doc_id")),
        Seq("doc_id", "sh"), Seq("doc_id" -> "db", "sh" -> "sb"), window)
      .select(least(col("doc_id"), col("db")).as("doc1"),
        greatest(col("doc_id"), col("db")).as("doc2"),
        hammingDistance(col("sh"), col("sb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Blocked edit-distance record linkage: candidate pairs share a
    * blocking key (the classic entity-resolution move — all-pairs
    * Levenshtein is O(n²·len²) and never runs at scale), then the exact
    * distance filters within blocks. Same degenerate-block guard as the
    * LSH/SimHash candidate generators: one megablock (a useless blocking
    * key) would otherwise own the runtime.
    *
    * Levenshtein is a Spark builtin with identical semantics in DuckDB,
    * so linkage results are oracle-checkable cross-engine.
    *
    * The DP domain is DISTINCT NAMES, not rows: records sharing a name
    * inside a block are collapsed before the quadratic step (the same
    * collapse-before-expansion move as the shingle-bucket dedup in
    * [[exactSubstringSpans]]), distances are computed once per distinct
    * (name, name) pair in the block, and the surviving name pairs are
    * re-expanded to id pairs by two joins on (block, name). Real entity
    * streams are duplicate-heavy — that is why linkage runs at all — so
    * the n² that matters shrinks from rows² to distinct-names², while a
    * fully-unique corpus degrades exactly to the old per-row cost. The
    * id-pair OUTPUT is still quadratic in duplicate-group size; that is
    * the contract, and it is produced by joins, not by DP.
    *
    * The name-pair stream is thinned by two result-preserving cuts
    * before any DP runs: (1) edit distance ≥ |len(a)−len(b)|, so a pair
    * with a length gap over `maxDist` is filtered on two precomputed
    * ints; (2) the survivors run the THRESHOLDED
    * `levenshtein(l, r, maxDist)` builtin, whose banded DP is
    * O(len·maxDist) instead of O(len²) and returns −1 above the
    * threshold (exact below it).
    */
  def blockedEditDistancePairs(df: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[org.apache.spark.sql.Column], maxDist: Int,
      maxBlock: Int = 10000): DataFrame = {
    val blocked = Buckets.sized(blockedBy(df, blockCols).repartition(col("__block")),
        Seq("__block"), 2, maxBlock)
      .select(col("__block"), col(idCol), col(nameCol))
    val reps = blocked.select(col("__block"), col(nameCol)).distinct()
    val namePairs = reps.select(col("__block"), col(nameCol).as("__n1"))
      .join(reps.select(col("__block"), col(nameCol).as("__n2")), Seq("__block"))
      .filter(col("__n1") <= col("__n2"))
      .filter(abs(length(col("__n1")) - length(col("__n2"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__n1"), col("__n2"), maxDist))
      .filter(col("dist") >= 0)
    idPairs(blocked, idCol, nameCol, namePairs)
  }

  /** `df` keyed by its linkage block: `__block` = the `blockCols` joined
    * by '|'. The separator matches the d10 oracle's block key exactly; a
    * collapsible or exotic separator would let block keys drift from the
    * oracle's and (worst case) let distinct block-col tuples collide into
    * one block, emitting extra Spark-only pairs.
    */
  private def blockedBy(df: DataFrame, blockCols: Seq[Column]): DataFrame =
    df.withColumn("__block", concat_ws("|", blockCols: _*))

  /** Re-expand matched (block, __n1, __n2, dist) name pairs to the id
    * pairs of the (block, id, name) rows carrying them: (id1, id2, dist),
    * id1 < id2. Same-name groups emit each unordered id pair once
    * (ida < idb); cross-name groups emit every (ida, idb) combo exactly
    * once because an id has one name, so no pair arrives via two routes.
    */
  private def idPairs(blocked: DataFrame, idCol: String, nameCol: String,
      namePairs: DataFrame): DataFrame = {
    val a = blocked.select(col("__block"), col(idCol).as("__ida"),
      col(nameCol).as("__n1"))
    val b = blocked.select(col("__block"), col(idCol).as("__idb"),
      col(nameCol).as("__n2"))
    a.join(namePairs, Seq("__block", "__n1"))
      .join(b, Seq("__block", "__n2"))
      .filter(col("__n1") < col("__n2") || col("__ida") < col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id1"),
        greatest(col("__ida"), col("__idb")).as("id2"), col("dist"))
  }

  /** Sorted-neighborhood record linkage (Hernández & Stolfo, SIGMOD'95)
    * — the cap-free scale path for [[blockedEditDistancePairs]], whose
    * distinct-name pair stage is still quadratic in block population by
    * construction (measured 33x wall for 50x data on the natural
    * scale-50 fixture; fine under the linear bound, but the wrong curve
    * for a 100 TB linkage run).
    *
    * Within each coarse block the DISTINCT names are sorted and each
    * name pairs only with its next `window` neighbors — candidate
    * volume is O(distinct-names · window) per pass, cap-free and linear
    * in n. Two passes (the classic multi-pass SNM): the forward name
    * order, and the REVERSED-string order — a prefix edit teleports a
    * name in forward order but leaves it adjacent in reversed order, so
    * the union catches both edit positions; only a simultaneous
    * prefix+suffix edit within `maxDist` can escape, and the spec
    * measures that residual recall on planted typos. Same-name id pairs
    * (dist 0) are emitted exactly as in the blocked contract, so this is
    * a drop-in production replacement. The d13 analog for strings
    * (reference has neither: HogSFlow's dedup is exact-key only).
    */
  def sortedNeighborEditPairs(df: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[org.apache.spark.sql.Column], maxDist: Int,
      window: Int = 10): DataFrame = {
    val blocked = blockedBy(df, blockCols).select(col("__block"), col(idCol), col(nameCol))
    // the distinct-name table feeds both SNM sort passes and the
    // reflexive branch — pin it once (the d13 rotation pattern)
    val names = blocked.select(col("__block"), col(nameCol).as("__n"))
      .distinct().transform(Pin.truncate(_))
    val namePairs = snmNeighborNamePairs(names, maxDist, window).unionByName(
      names.select(col("__block"), col("__n").as("__n1"),
        col("__n").as("__n2"), lit(0).as("dist")))
    idPairs(blocked, idCol, nameCol, namePairs)
  }

  /** The collapsed (rep-level) form of [[sortedNeighborEditPairs]] — the
    * d12 pattern applied to record linkage. The expanded id-pair output
    * is quadratic in duplicate-group size BY CONTRACT (measured 156M
    * rows at the natural scale-50 fixture, 2500× the sf0.1 output); at
    * 100 TB nobody wants those rows materialized. This contract emits
    * one row per matched distinct-NAME pair, on each group's
    * representative (min id), with `n_pairs` = the number of id pairs
    * the row stands for — cross-group rows carry n₁·n₂, and each
    * same-name group of k ids is one `(rep, rep, 0, k·(k−1)/2)` row.
    * Expanding through group membership reproduces the expanded
    * contract exactly (parity spec). Output is linear in distinct-name
    * matches, independent of clone multiplicity.
    */
  def sortedNeighborRepPairs(df: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[org.apache.spark.sql.Column], maxDist: Int,
      window: Int = 10): DataFrame = {
    // groups feeds both SNM passes, both expansion sides, and the
    // intra branch — pin it once
    val groups = Buckets.cloneGroups(blockedBy(df, blockCols),
        Seq(col("__block"), col(nameCol)), idCol)
      .transform(Pin.truncate(_))
    val namePairs = snmNeighborNamePairs(
      groups.select(col("__block"), col(nameCol).as("__n")), maxDist, window)
    def side(i: Int) = groups.select(col("__block"), col(nameCol).as(s"__n$i"),
      col(Buckets.Rep).as(s"__r$i"), col(Buckets.Clones).as(s"__c$i"))
    val cross = namePairs
      .join(side(1), Seq("__block", "__n1"))
      .join(side(2), Seq("__block", "__n2"))
      .select(least(col("__r1"), col("__r2")).as("id1"),
        greatest(col("__r1"), col("__r2")).as("id2"), col("dist"),
        (col("__c1") * col("__c2")).cast("long").as("n_pairs"))
    cross.unionByName(Buckets.intraPairs(groups, "id1", "id2", lit(0).as("dist")))
  }

  /** Shared SNM candidate stage: distinct (block, name) rows in, matched
    * distinct-name pairs (dist in [1, maxDist]) out — forward and
    * reversed-string passes of [[Buckets.neighbors]], `window` leads
    * each. Both passes re-shuffle `names` on a different sort key —
    * callers pass a pinned ([[Pin.truncate]]) frame so the upstream
    * distinct/aggregate runs once.
    */
  private def snmNeighborNamePairs(names: DataFrame, maxDist: Int,
      window: Int): DataFrame =
    Seq(col("__n"), reverse(col("__n")))
      .map(key => Buckets.neighbors(names, Seq(col("__block")), Seq(key, col("__n")),
        Seq("__block", "__n"), Seq("__n" -> "__m"), window))
      .reduce(_ unionByName _)
      .select(col("__block"),
        least(col("__n"), col("__m")).as("__n1"),
        greatest(col("__n"), col("__m")).as("__n2"))
      .distinct()
      .filter(abs(length(col("__n1")) - length(col("__n2"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__n1"), col("__n2"), maxDist))
      .filter(col("dist") >= 0)

  /** Exact duplicated-substring detection between documents, the
    * span-level complement of token-shingle near-dup: two docs share a
    * verbatim run of ≥ `k` characters iff they share a char `k`-gram, and
    * a shared run of length L contributes L−k+1 shared grams — so the
    * per-pair shared-gram count is a length proxy for how much text the
    * pair duplicates verbatim (the signal behind suffix-array substring
    * dedup in LLM-corpus pipelines, re-expressed as a bucketed gram join
    * instead of a global suffix sort).
    *
    * Shape: char k-grams materialize ROW-LOCALLY per doc (`transform`
    * over a position `sequence`, then `array_distinct` before the
    * explode — no dedup shuffle); the gram stream then runs through
    * [[Buckets.sharedGramPairs]]: grams shared by more than `maxBucket`
    * docs are dropped before `collect_list` buffers them (the
    * boilerplate guard), and pairs expand row-locally inside each
    * bucket, quadratic only in bucket size.
    *
    * `hashGrams=true` shuffles an 8-byte `xxhash64` instead of the k-byte
    * gram (the 100 TB setting — a 3× shuffle-width cut at k=24, collision
    * odds ~2⁻⁶⁴ per gram pair); the oracle-checked query passes `false`
    * so both engines count literal grams.
    *
    * Returns (doc_a, doc_b, shared_grams) with doc_a < doc_b and
    * shared_grams ≥ `minShared`.
    */
  def exactSubstringSpans(df: DataFrame, k: Int = 24, minShared: Int = 10,
      maxBucket: Int = 1000, hashGrams: Boolean = true): DataFrame = {
    // hashed path: one compiled rolling-hash pass per document
    // ([[graft.expressions.KGramHashes]] — O(L) work, no substring
    // allocation); literal path: the composed substr form (kept for the
    // PipelineSpec parity assertion and gram-readability debugging).
    // Both dedup grams per document before exploding.
    val gramsArr = transform(
      sequence(lit(1), length(col("text")) - lit(k - 1)),
      i => col("text").substr(i, lit(k)))
    val gramCol =
      if (hashGrams)
        explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.KGramHashes(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), k)))
      else explode(array_distinct(gramsArr))
    val keyed = df.filter(length(col("text")) >= k)
      .select(col("doc_id"), gramCol.as("g"))
    // widthExpansion 32: EVERY gram position is keyed (~L−k+1 rows/doc
    // of ~10 B vs the docs frame's ~L-byte estimate the optimizer sees),
    // so the gram stream and the doc-list aggregate state run ~50× the
    // input estimate — measured 2.2 GB written off a 44 MB estimate at
    // 100×, and a 44-wide doc-list aggregate externalized 25.8 GB there
    // where the 192-wide shape spills nothing.
    Buckets.sharedGramPairs(keyed, maxBucket, minShared, widthExpansion = 32)
  }

  /** Winnowed production form of [[exactSubstringSpans]] (d11 → d18, the
    * substring analog of the d6→d13 / d10→d15 parity→production series):
    * instead of keying EVERY k-gram position, key only the winnowed
    * fingerprints ([[graft.expressions.WinnowedGramHashes]] — Schleimer
    * et al. SIGMOD'03, the MOSS selection rule). Expected selection
    * density is ~2/(w+1), while any shared span of at least w+k−1
    * characters still contains a full selection window and is GUARANTEED
    * to surface. `minShared` scales with the density (default 2 ≈ d11's
    * 10 shared grams × 2/(w+1)).
    *
    * What winnowing does and does NOT thin (measured on the 100× natural
    * fixture): keyed gram rows drop by the density (139M → 23.6M, ÷5.9),
    * which cuts the gram shuffle 17 GB → 6.9 GB and wall 110 s → 41 s.
    * Candidate PAIRS drop only 430M → 229M: selection of a gram depends
    * on its w-neighborhood, so grams whose surrounding CONTEXT is shared
    * across documents are selected in every one of them — exactly the
    * property the span guarantee requires — and content-duplicated
    * grams therefore keep their full bucket frequency. The ((w+1)/2)²
    * volume reduction applies to the coincidental long-tail collisions,
    * not to genuine shared spans; on a template-heavy corpus the
    * residual volume is content-bound (3.6M buckets of ~10 span-sharing
    * docs here) — it IS the workload, and the per-pair cost is what the
    * compiled expansion kernel minimizes.
    */
  def winnowedSubstringSpans(df: DataFrame, k: Int = 24, w: Int = 9,
      minShared: Int = 2, maxBucket: Int = 1000): DataFrame = {
    val keyed = winnowedGrams(df, k, w)
    // widthExpansion 4: winnowing keeps ~2/(w+1) of the gram positions
    // (~8× the docs-frame byte estimate on the wire — measured 360 MB
    // written off a 44 MB estimate at 100×, 1/6 of exactSubstringSpans'
    // density), but the EMPIRICAL width optimum sits at ~half that
    // density factor: the 100× A/B measured 44-wide ≈ 48-wide (the
    // 8-core probe's fastest) < 85-wide < 192-wide, spill-free
    // throughout — the doc-list aggregate state, not the wire bytes,
    // is what the width must bound, and winnowed buckets are small.
    Buckets.sharedGramPairs(keyed, maxBucket, minShared, widthExpansion = 4)
  }

  /** (doc_id, g): one row per winnowed span fingerprint of each doc
    * ([[graft.expressions.WinnowedGramHashes]], deduped per doc by the
    * kernel); docs shorter than `k` have none.
    */
  private def winnowedGrams(df: DataFrame, k: Int, w: Int): DataFrame =
    df.filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.WinnowedGramHashes(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), k, w)))
          .as("g"))

  /** Per-document duplicated-span fraction — the PAIR-FREE span-dup
    * signal (the curation decision rule of the Gopher/RefinedWeb
    * lineage: drop documents whose text is mostly duplicated elsewhere).
    * For each document: the number of its winnowed span fingerprints
    * ([[graft.expressions.WinnowedGramHashes]]) that appear in at least
    * one OTHER document, and that count as a fraction of its selections.
    *
    * This closes the d11 → d18 → d19 cost ladder: d11/d18 enumerate
    * every span-sharing PAIR, so their output (and therefore their
    * cost) tracks the corpus's span-pair density — measured ~4× per
    * corpus doubling on a template-heavy fixture, inherently
    * output-bound. This form never expands pairs at all: one groupBy
    * counts per-fingerprint document frequency (map-side combined), one
    * join marks each doc's fingerprints shared/unique, one aggregate
    * emits the per-doc fraction — every stage O(selected rows), linear
    * in corpus size at ANY duplication density. At 100 TB this is the
    * query you run corpus-wide; the pair contracts are what you run on
    * the flagged survivors.
    *
    * Frequency counting is per distinct (doc, fingerprint) — the kernel
    * already dedups per doc — and needs no degenerate-bucket guard: a
    * boilerplate fingerprint in 10⁹ docs is one counter, not 10¹⁸
    * pairs.
    */
  def dupSpanFraction(df: DataFrame, k: Int = 24, w: Int = 9): DataFrame = {
    // The frequency lookup is a co-keyed HASH join, never sort-merge:
    // left to the planner, the join of the gram stream against its own
    // frequency table planned SMJ at ladder scale and sorted the whole
    // stream just to look up a count (measured 5.3 GB of pure sort
    // spill at the 400x probe, the only non-contract spill in the r10
    // ladder). With the hint both sides exchange on g and hash-join
    // per partition: zero externalization AND faster at every measured
    // scale (100x 4.3 -> 3.7 s, 400x 16.6/5.3 GB -> 14.2 s/zero). An
    // r10 A/B also rejected an AdaptiveWidth-widened single-exchange
    // variant (one 6x-wide repartition feeding agg + probe): ~30%
    // slower at 100x and more shuffle at 400x than this shape.
    val keyed = winnowedGrams(df, k, w)
    val freq = keyed.groupBy(col("g")).agg(count(lit(1)).as("df"))
    keyed.join(freq.hint("shuffle_hash"), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_spans"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_spans"), 6).as("dup_frac"))
  }

  /** Oriented span-CONTAINMENT screen — the asymmetric dual of d18's
    * span-pair similarity, and the signal Jaccard-family near-dup
    * structurally misses: a paragraph quoted inside a much larger
    * document has tiny Jaccard (|A∩B|/|A∪B|) but containment
    * |A∩B|/|A| ≈ 1. This is the quote/boilerplate/template detection
    * pass of the RefinedWeb/CCNet curation lineage. Candidates come
    * from the same winnowed-fingerprint bucket join as d18 (bucket-
    * capped, never all-pairs; MinHash LSH would be WRONG here — it
    * approximates Jaccard, so it cannot recall small-in-big pairs);
    * each pair's shared distinct-gram count then normalizes by EACH
    * side's own selection count, giving both orientations. Output:
    * (doc_a, doc_b, shared_grams, containment_a, containment_b) with
    * doc_a < doc_b, kept when either orientation clears
    * `minContainment`. Same linear/output-bound cost shape as d18.
    */
  def spanContainmentPairs(df: DataFrame, k: Int = 24, w: Int = 9,
      minShared: Int = 2, minContainment: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val keyed = winnowedGrams(df, k, w)
    val perDoc = keyed.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    Buckets.sharedGramPairs(keyed, maxBucket, minShared, widthExpansion = 4)
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("containment_a", round(col("shared_grams") / col("n_a"), 6))
      .withColumn("containment_b", round(col("shared_grams") / col("n_b"), 6))
      .filter(greatest(col("containment_a"), col("containment_b")) >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("shared_grams"),
        col("containment_a"), col("containment_b"))
  }

  /** Content-defined chunking dedup (the LBFS/rsync/FastCDC boundary
    * rule, token-granular): a chunk boundary falls after any token whose
    * trailing `w`-token window hashes into the cut residue class (first
    * md5 nibble '0' → P(cut) = 1/16, mean chunk ≈ 16 tokens). Because
    * boundaries are decided by local CONTENT, inserting or deleting a
    * token resynchronizes within one window — chunk fingerprints
    * downstream of an edit still match, which is exactly what d9's
    * fixed-stride chunking loses (one leading token shifts every chunk).
    * The whole per-doc pass runs inside ONE compiled kernel per row
    * ([[graft.expressions.CdcChunkFps]]: token bytes decoded once, a
    * rolling digest for the gram windows, a running digest per chunk) —
    * the original posexplode + three-window form shuffled every token
    * twice and re-assembled chunk text through a collect_list aggregate
    * (4.7 → ~1 s at sf0.1, same fingerprints bit-for-bit). The
    * corpus-level dedup stays the same canonical-min groupBy on the
    * chunk fingerprint as d9, so scale behavior matches the
    * fixed-stride pipeline with zero doc-keyed shuffles.
    */
  def cdcChunkDedup(df: DataFrame, w: Int = 4): DataFrame = {
    val fps = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.CdcChunkFps(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens(col("text"))), w))
    df.select(col("doc_id"), posexplode(fps).as(Seq("chunk_idx", "fp")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("fp"))
  }

  /** Per-doc duplication stats over [[cdcChunkDedup]] chunks — the d9
    * output contract (n_chunks / n_dup_chunks / dup_frac), but
    * shift-robust.
    */
  def cdcChunkStats(df: DataFrame, w: Int = 4): DataFrame = {
    val chunks = cdcChunkDedup(df, w)
    val canonical = chunks.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
      .select(col("fp"), col("first.doc_id").as("cdoc"), col("first.chunk_idx").as("cc"))
    chunks.join(canonical, Seq("fp"))
      .withColumn("dup",
        (col("doc_id") =!= col("cdoc") || col("chunk_idx") =!= col("cc")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("dup")).as("n_dup_chunks"),
        round(sum(col("dup")).cast("double") / count(lit(1)), 6).as("dup_frac"))
  }
}
