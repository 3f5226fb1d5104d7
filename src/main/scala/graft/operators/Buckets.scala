package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The megabucket policy, and the only code that knows it: every
  * candidate-pair generator in the near-dup family (text LSH, SimHash
  * banding, blocked linkage, substring spans, decontamination, image
  * and audio near-dup, embedding LSH, the stream screens) pairs rows
  * only INSIDE a bucket (a band signature, a block key, a gram), and
  * drops any bucket holding more than `maxBucket` members before it
  * expands. A bucket of k members expands to k·(k−1)/2 pairs, so one
  * boilerplate signature shared by a million docs would detonate one
  * task with 5·10¹¹ rows; a dropped bucket's members still pair in
  * their other bands unless the text is pathologically common, where
  * exact dedup is the right tool anyway. That is the standard recall
  * trade for a hard task-size bound. The bound is inclusive: a bucket
  * of exactly `maxBucket` members still pairs.
  *
  * The operators, each with the plan shape its call sites measured:
  *  - [[sized]]: the window-count guard, for a stream the next operator
  *    already shuffles on the bucket key;
  *  - [[kept]] / [[hot]]: the count-aggregate key gate, for a stream
  *    that must not be sorted just to size its buckets;
  *  - [[lookup]]: the guarded state-index lookup of every stream screen;
  *  - [[pairs]] and [[sharedGramPairs]]: sorted member lists expanded
  *    by the compiled [[graft.expressions.PairCombinations]] kernel;
  *  - [[selfJoin]]: the in-bucket self-join, spread over every core;
  *  - [[neighbors]]: the cap-free sorted-neighbourhood pass;
  *  - [[cloneGroups]] / [[intraPairs]]: byte-identical members
  *    collapsed to one representative before any expansion.
  *
  * The internal column names carry a `__` prefix because the operators
  * take caller frames with arbitrary columns.
  */
object Buckets {

  private val Size = "__bsz"

  /** Representative (min member) and size columns of [[cloneGroups]]. */
  val Rep = "__rep"
  val Clones = "__clones"

  /** The cap as a predicate on a bucket size. A size is at least 1, so
    * `minSize` 1 is the plain `<= maxBucket` form; `minSize` 2 also drops
    * singletons, which cannot pair.
    */
  private def within(size: Column, minSize: Int, maxBucket: Int): Column =
    if (minSize > 1) size.between(minSize, maxBucket) else size <= maxBucket

  /** Rows of `df` whose bucket (the rows sharing `keys`) holds between
    * `minSize` and `maxBucket` members.
    *
    * The size is a window count over the SAME key the next operator
    * shuffles on (the member-list aggregate of [[pairs]], a bucket join,
    * or the caller's own `repartition` on the key), so the exchange is
    * shared, and oversized buckets are dropped BEFORE a `collect_list`
    * ever buffers them: filtering after the collect would still
    * materialize the megabucket in one aggregation buffer. Use it only
    * there — on a stream that is not otherwise exchanged on the key, the
    * window sorts the whole stream to size buckets; [[kept]] is the
    * shape for that.
    */
  def sized(df: DataFrame, keys: Seq[String], minSize: Int, maxBucket: Int): DataFrame =
    df.withColumn(Size, count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(within(col(Size), minSize, maxBucket))
      .drop(Size)

  private def sizes(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(Size))

  /** The `keys` of the buckets holding between `minSize` and `maxBucket`
    * rows of `df`, for the caller to semi-join with its own hint.
    *
    * A count aggregate, NOT a window count: the window form SORTS the
    * entire stream just to size buckets (13 GB of spill on the gram
    * stream at 50×, where most buckets are singletons about to be
    * dropped), while the aggregate combines map-side — its shuffle
    * moves at most one partial per populated bucket per task. The join
    * hint is the caller's, because it follows the key domain: a
    * domain-bounded key set (image bands: 4 × 2^16 values at any corpus
    * size) is broadcast, so the stream is never exchanged for the gate;
    * a data-bounded one (grams) is a shuffle-hash join, because a
    * sort-merge join would re-introduce the sort the gate exists to
    * avoid.
    */
  def kept(df: DataFrame, keys: Seq[String], minSize: Int, maxBucket: Int): DataFrame =
    sizes(df, keys).filter(within(col(Size), minSize, maxBucket)).select(keys.map(col): _*)

  /** The `keys` of the buckets holding more than `maxBucket` rows of
    * `df`, for the caller to anti-join (usually broadcast: the hot set
    * is bounded by |df| / maxBucket). The [[kept]] aggregate, for the
    * sites where the hot set is the smaller side: a stream-static or
    * touched-subset index, or wide rows that should not be re-read.
    */
  def hot(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    sizes(df, keys).filter(col(Size) > maxBucket).select(keys.map(col): _*)

  /** The guarded state-index lookup of every stream screen (text bands,
    * image bands, audio fps, bench bands): the rows of `index` whose
    * `keys` the batch frame `probe` carries — a broadcast semi-join on
    * the batch's distinct keys, so the index is scanned, never shuffled —
    * pinned through the batch's `pins` (read twice: the bucket count and
    * the lookup), minus the buckets holding more than `maxBucket` of them
    * ([[hot]], a broadcast anti-join). Every index row of a probed key is
    * touched, so the count is that bucket's full size: no size table and
    * no O(index) pass, and a verify join after it fans out at most
    * `maxBucket` rows per probe key. The trade: an oversized bucket's
    * touched rows are pinned for the batch before they are dropped.
    */
  def lookup(index: DataFrame, probe: DataFrame, keys: Seq[String], maxBucket: Int,
      pins: Pin.Scope): DataFrame = {
    val touched = index
      .join(broadcast(probe.select(keys.map(col): _*).distinct()), keys, "left_semi")
      .transform(pins.truncate(_))
    touched.join(broadcast(hot(touched, keys, maxBucket)), keys, "left_anti")
  }

  /** Compiled in-bucket pair expansion over a sorted `array<bigint>`:
    * `array<struct<doc_a, doc_b>>` with doc_a < doc_b. The HOF
    * `flatten(transform(slice…))` form boxes elements and copies a slice
    * per outer position, the dominant cost at 10⁸ pairs.
    */
  private def expand(ds: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.PairCombinations(
        org.apache.spark.sql.graft.ColumnBridge.expression(ds)))

  /** Candidate pairs from shared buckets: `(left, right, shared)`, one
    * row per pair of `member` ids (longs) sharing at least one bucket,
    * left < right, with the number of buckets they share.
    *
    * ONE shuffle on the bucket key ([[sized]]'s window and the
    * member-list aggregate share it), then pairs expand row-locally
    * inside each bucket: cheaper than a self-join (which would recompute
    * the signature per side) and quadratic only in bucket size, never in
    * n. Buckets outside [2, maxBucket] never reach the `collect_list`.
    */
  def pairs(df: DataFrame, keys: Seq[String], member: String, maxBucket: Int,
      left: String, right: String, shared: String): DataFrame =
    sized(df, keys, 2, maxBucket)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(member))).as("__ds"))
      .select(explode(expand(col("__ds"))).as("__p"))
      .select(col("__p.doc_a").as(left), col("__p.doc_b").as(right))
      .groupBy(col(left), col(right)).agg(count(lit(1)).as(shared))

  /** The substring-span form of [[pairs]]: `keyed` is (doc_id, g), one
    * row per distinct gram of a document; returns (doc_a, doc_b,
    * shared_grams), doc_a < doc_b, kept when shared_grams ≥ `minShared`.
    * The d23 plan golden pins this shape. Two decisions shape it, both
    * learned from stage profiles at the 100× fixture (the spill figures
    * are that measurement):
    *
    * 1. Bucket sizes come from [[kept]], gating the stream via a
    *    shuffle-hash semi-join, so only SURVIVING bucket members (shared
    *    grams: content-bound, orders of magnitude fewer) ever reach the
    *    doc-list aggregate. The gram kernel runs twice (once per branch):
    *    recomputing a row-local O(L) hash pass is the right trade against
    *    sorting 10⁸ rows.
    *
    * 2. The gram keys and the expanded pairs are both mostly UNIQUE per
    *    task, so Catalyst's map-side partial aggregates combine nothing
    *    and externalize their hash maps instead (12.7 GB + 24.7 GB of
    *    pure partial/final-agg spill at 100×). Explicit wide exchanges
    *    followed by ONE complete-mode aggregate are no wider on the wire
    *    (unique keys ⇒ partial output ≈ input) and keep every task's
    *    aggregation map in memory — the task count the expansion's
    *    OUTPUT needs. `widthExpansion` is the caller's gram-density
    *    factor. Below the AdaptiveWidth threshold (where per-task maps
    *    trivially fit) the explicit exchanges are pure overhead and the
    *    plain partial-aggregate shapes run instead; identical rows either
    *    way. The regime GATE keeps its measured factor-4 calibration (the
    *    sf0.1 / 100× boundary) while the WIDTH uses `widthExpansion`: the
    *    two answer different questions (when to widen vs how wide).
    *
    * Identical doc-lists collapse before the quadratic expansion: in a
    * clone-heavy corpus every gram of a clone group produces the same
    * sorted member list, so its k·(k−1)/2 pairs would otherwise be
    * exploded once PER GRAM. One groupBy on the list collapses them to a
    * single weighted expansion (1.3× end-to-end on a fully-10×-cloned
    * corpus, ~free when buckets are mostly unique).
    */
  def sharedGramPairs(keyed: DataFrame, maxBucket: Int, minShared: Int,
      widthExpansion: Int): DataFrame = {
    val small = graft.plans.AdaptiveWidth.isSmallInput(keyed, expansionFactor = 4)
    val n8 = graft.plans.AdaptiveWidth.widened(keyed, expansionFactor = widthExpansion)
    def wideBy(df: DataFrame, cols: Column*): DataFrame =
      if (small) df else df.repartition(n8, cols: _*)
    val shared = kept(wideBy(keyed, col("g")), Seq("g"), 2, maxBucket)
    wideBy(keyed, col("g"))
      .join(shared.hint("shuffle_hash"), Seq("g"), "left_semi")
      .groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .groupBy(col("ds")).agg(count(lit(1)).as("w"))
      // the expansion runs wide (redistributing the CHEAP collapsed-
      // bucket frame) and streams pairs straight into an explicit wide
      // exchange; the pair aggregate then runs complete-mode, also wide
      .transform(wideBy(_, col("ds")))
      .select(col("w"), explode(expand(col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("w"))
      .transform(wideBy(_, col("doc_a"), col("doc_b")))
      .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("w")).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
  }

  /** Guarded-index rows above which [[selfJoin]] stops broadcasting and
    * falls back to the salted shuffle join. The cap bounds the joinable
    * index at nBuckets·maxBucket rows BY CONSTRUCTION, so for small band
    * configs (16 buckets × 10k cap = 160k rows, a few MB) the bound
    * itself proves broadcastability.
    */
  private val BroadcastIndexRowCap: Long = 1L << 18

  /** Within-bucket self-join of a [[sized]] index (`a` and `b` are two
    * projections of it, both carrying `bucket`), with the quadratic pair
    * enumeration spread over ALL cores instead of one task per bucket.
    * With few buckets (bucketBits=4 → 16) a plain bucket join lands the
    * pair blowup on 16 tasks however many cores there are, and AQE
    * cannot help: its skew splitter sizes INPUT partitions, and the
    * blowup happens at the join.
    *
    * Small configs (nBuckets·maxBucket ≤ [[BroadcastIndexRowCap]]):
    * broadcast `b` — the cap makes it provably bounded — and round-robin
    * `a`, so every core enumerates pairs for its slice of `a` with no
    * join shuffle at all. Large configs: salt `b` into slices by
    * `saltBy` and replicate `a` across them; every (a, b) pair meets in
    * exactly one (bucket, split) cell, and join parallelism grows to
    * ~4 tasks per core.
    */
  def selfJoin(a: DataFrame, b: DataFrame, saltBy: Column, nBuckets: Int,
      maxBucket: Int): DataFrame = {
    val parallelism = a.sparkSession.sparkContext.defaultParallelism
    if (nBuckets.toLong * maxBucket <= BroadcastIndexRowCap)
      a.repartition(2 * parallelism).join(broadcast(b), Seq("bucket"))
    else {
      val s = math.max(1, (4 * parallelism + nBuckets - 1) / nBuckets)
      if (s == 1) a.join(b, Seq("bucket"))
      else {
        val aRep = a.withColumn("split", explode(sequence(lit(0), lit(s - 1))))
        val bSplit = b.withColumn("split", pmod(xxhash64(saltBy), lit(s.toLong)).cast("int"))
        aRep.join(bSplit, Seq("bucket", "split")).drop("split")
      }
    }
  }

  /** Sorted-neighbourhood pass, the cap-free alternative to bucketing:
    * within each `within` partition, rows sorted by `order` pair with
    * their next `window` rows. Returns the `keep` columns plus, for each
    * `(column, alias)` in `next`, the neighbour's value as `alias`; one
    * row per (row, neighbour), neighbours past the partition end
    * dropped. Candidate volume is O(rows · window) — linear, no cap, no
    * degenerate-key risk.
    *
    * All `window` leads ride ONE window pass and are unpivoted by a
    * single explode in a follow-up projection: per-lead union branches
    * would re-run the WindowExec once per branch, and a generator cannot
    * host window expressions directly.
    */
  def neighbors(df: DataFrame, within: Seq[Column], order: Seq[Column],
      keep: Seq[String], next: Seq[(String, String)], window: Int): DataFrame = {
    val w = Window.partitionBy(within: _*).orderBy(order: _*)
    def led(i: Int, c: String) = s"__nb${i}_$c"
    val leads = for (i <- 1 to window; (c, _) <- next) yield lead(col(c), i).over(w).as(led(i, c))
    // one led column explodes bare (a one-field struct per neighbour ran
    // the SNM queries d15/d16 ~5% slower at sf0.1); several ride a struct
    val bare = next.size == 1
    def neighbour(i: Int): Column =
      if (bare) col(led(i, next.head._1))
      else struct(next.map { case (c, alias) => col(led(i, c)).as(alias) }: _*)
    def field(alias: String): Column = if (bare) col("__nb") else col(s"__nb.$alias")
    df.select(keep.map(col) ++ leads: _*)
      .select(keep.map(col) :+ explode(array((1 to window).map(neighbour): _*)).as("__nb"): _*)
      .select(keep.map(col) ++ next.map { case (_, alias) => field(alias).as(alias) }: _*)
      .filter(col(next.head._2).isNotNull)
  }

  /** Clone groups: one row per distinct `keys` tuple with its
    * representative ([[Rep]], the minimum `member`) and its size
    * ([[Clones]]). Byte-identical members share every signature, so a
    * generator run over the representatives and re-expanded through
    * the group sizes does the quadratic work once per distinct value:
    * a pathological clone rate SHRINKS the expansion instead of
    * inflating it. The frame usually feeds several consumers; callers
    * pin it.
    */
  def cloneGroups(df: DataFrame, keys: Seq[Column], member: String): DataFrame =
    df.groupBy(keys: _*).agg(min(col(member)).as(Rep), count(lit(1)).as(Clones))

  /** The exact-duplicate pairs inside each clone group, one row per
    * group of k > 1 members: `(left, right) = (rep, rep)`, `zero` (the
    * caller's distance column at its zero), and `n_pairs` = k·(k−1)/2,
    * the id pairs the row stands for.
    */
  def intraPairs(groups: DataFrame, left: String, right: String, zero: Column): DataFrame =
    groups.filter(col(Clones) > 1)
      .select(col(Rep).as(left), col(Rep).as(right), zero,
        ((col(Clones) * (col(Clones) - 1)) / 2).cast("long").as("n_pairs"))
}
