package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{Dedup, SimilaritySearch}
import graft.queries.ScratchDirs

/** Behavioral tests for the dedup / similarity operators on constructed
  * data where ground truth is known (the oracle queries check engine
  * parity; these check the algorithms do what they claim).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Bit `b` (0-based, low bit first within each hex digit) of an md5 hex
    * string: digit = substr(h, b/4+1), value via ascii arithmetic, then
    * (value >> (b%4)) & 1 — exact double pow/floor because Column shift
    * amounts must be literals.
    */
  private def md5Bit(h: Column, b: Column): Column = {
    val a = ascii(h.substr(floor(b / 4).cast("int") + 1, lit(1)))
    val digit = when(a <= 57, a - 48).otherwise(a - 87)
    pmod(floor(digit.cast("double") / pow(lit(2.0), (b % 4).cast("double"))).cast("int"), lit(2))
  }

  /** Reference 32-bit SimHash of the token multiset, built from ordinary
    * interpreted higher-order functions (no SimhashSig kernel): per token,
    * bit b of md5(token) votes ±1; simhash bit b is 1 iff the vote sum is
    * positive. A non-negative long in [0, 2^32). The `simhashOf` parity
    * tests compare the compiled kernel against it.
    */
  private def simhash(toks: Column): Column = {
    val bits = Dedup.SimHashBits
    val votes = aggregate(
      toks,
      typedLit(Seq.fill(bits)(0)),
      (acc, t) => {
        val h = md5(t)
        zip_with(acc, sequence(lit(0), lit(bits - 1)),
          (a, b) => a + when(md5Bit(h, b) === 1, lit(1)).otherwise(lit(-1)))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, b) => when(v > 0, pow(lit(2.0), b.cast("double")).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire every single day"

  test("LSH recovers a planted near-duplicate pair and skips unrelated docs") {
    // one appended token → 18/19 shingle jaccard; this fixed pair collides
    // in 2 of 3 bands (md5 is deterministic, so the test is too)
    val nearDup = base + " postscript"
    val docs = docsDf(Seq(
      1L -> base, 2L -> nearDup,
      3L -> "completely different content about spark catalyst optimizer rules and physical plans here today",
      4L -> "yet another unrelated document mentioning shuffle partitions broadcast joins and codegen stages now"))
    val pairs = Dedup.lshCandidatePairs(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("permsFor: prefix-stable, deterministic, and inside the overflow envelope") {
    assert(Dedup.permsFor(12) == Dedup.Perms)
    assert(Dedup.permsFor(5) == Dedup.Perms.take(5))
    val p128 = Dedup.permsFor(128)
    assert(p128.length == 128 && p128.take(12) == Dedup.Perms)
    assert(p128 == Dedup.permsFor(128)) // same constants every call
    // the envelope the fixed 12 rely on: a·h + b < 2^62 for h < HashMod
    p128.drop(12).foreach { case (a, b) =>
      assert(a % 2 == 1 && a > 0 && a < Dedup.HashMod, s"a=$a")
      assert(b >= 0 && b < Dedup.HashMod, s"b=$b")
    }
    assert(p128.distinct.size == 128, "duplicate permutation pair")
  }

  test("simhashOf(64): low 32 bits equal the 32-bit signature; sign bit is exact") {
    val docs = docsDf(Seq(1L -> base, 2L -> (base + " postscript"),
      3L -> "completely different content about spark catalyst optimizer rules"))
    val sh32 = Dedup.simhashOf(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh64 = Dedup.simhashOf(docs, "doc_id", "text", bits = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sh32.foreach { case (id, s32) =>
      assert((sh64(id) & 0xffffffffL) == s32,
        s"doc $id: 64-bit signature's low half != 32-bit signature")
    }
    // bits are md5-uniform votes: across a few docs the top bit should
    // not be structurally impossible — this asserts only that negatives
    // (bit 63 set) survive the arithmetic unchanged when they occur
    sh64.values.filter(_ < 0).foreach { v =>
      assert(((v >>> 63) & 1L) == 1L)
    }
  }

  test("lshBands(128, 32): 32 bands per doc, 4-row signatures, prefix-consistent") {
    val docs = docsDf(Seq(1L -> base, 2L -> (base + " postscript")))
    val bands = Dedup.lshBands(docs, numPerms = 128, numBands = 32)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(bands.groupBy(_._1).forall(_._2.length == 32))
    assert(bands.forall(_._3.split('|').length == 4))
    // band 0 of the 128/32 run uses permutations 0-3 = the default run's
    // first band → identical signature strings
    val def0 = Dedup.lshBands(docs).collect()
      .collect { case r if r.getInt(1) == 0 => (r.getLong(0), r.getString(2)) }.toMap
    bands.filter(_._2 == 0).foreach { case (id, _, sig) =>
      assert(def0(id) == sig, s"doc $id: band-0 signature drifted")
    }
  }

  test("simhashSortedNeighborPairs at 64 bits: planted near-dups surface; 32-bit path unchanged") {
    val nearDup = base + " postscript"
    val docs = docsDf(Seq(
      1L -> base, 2L -> nearDup, 3L -> base, // 3 is a byte-identical clone of 1
      4L -> "completely different content about spark catalyst optimizer rules and physical plans here today",
      5L -> "yet another unrelated document mentioning shuffle partitions broadcast joins and codegen stages now"))
    // 64-bit signatures double the vote width; the same planted pair and
    // the hamming-0 clone chain must surface through the rotated sorts
    val pairs64 = Dedup.simhashSortedNeighborPairs(docs, maxHamming = 14, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs64.contains((1L, 3L)), "identical clones must pair at any width")
    assert(pairs64.contains((1L, 2L)) && pairs64.contains((2L, 3L)),
      "planted near-dup must survive the 64-bit rotations")
    // the default-width call must equal an explicit bits=32 call row for
    // row (the pinned d13 oracle depends on this path not drifting)
    val def32 = Dedup.simhashSortedNeighborPairs(docs, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp32 = Dedup.simhashSortedNeighborPairs(docs, maxHamming = 10, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(def32 == exp32)
  }

  test("simhashCandidatePairs at 64 bits: non-negative buckets, clone pair found") {
    val docs = docsDf(Seq(
      1L -> base, 2L -> base,
      3L -> "completely different content about spark catalyst optimizer rules and physical plans here today"))
    val sh64 = Dedup.simhashOf(docs, "doc_id", "text", bits = 64)
      .withColumn("bucket", pmod(col("sh"), lit(16L)))
      .collect().map(_.getAs[Long]("bucket"))
    assert(sh64.forall(b => b >= 0 && b < 16), "pmod must keep 64-bit buckets non-negative")
    val pairs = Dedup.simhashCandidatePairs(docs, bucketBits = 4, maxHamming = 0, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lshCandidatePairs drops degenerate buckets past maxBucket") {
    // 12 identical docs → every band-bucket holds all 12
    val clones = docsDf((1L to 12L).map(i => i -> base))
    assert(Dedup.lshCandidatePairs(clones, maxBucket = 5).count() == 0)
    assert(Dedup.lshCandidatePairs(clones).count() == 12 * 11 / 2)
  }

  test("simhashCandidatePairs drops degenerate buckets past maxBucket") {
    val clones = docsDf((1L to 12L).map(i => i -> base))
    assert(Dedup.simhashCandidatePairs(clones, 4, 10, maxBucket = 5).count() == 0)
    assert(Dedup.simhashCandidatePairs(clones, 4, 10).count() == 12 * 11 / 2)
  }

  test("simhashSortedNeighborPairs finds planted near-dups and clone chains, no caps") {
    val nearDup = base + " postscript"
    val other =
      "completely different content about spark catalyst optimizer rules and physical plans here today"
    // 12 identical docs: the configuration that zeroes simhashCandidatePairs
    // under its megabucket guard must still fully surface here (identical
    // signatures sort adjacently in every rotation → doc_id chains)
    val clones = docsDf((1L to 12L).map(i => i -> base))
    val chainPairs = Dedup.simhashSortedNeighborPairs(clones, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(chainPairs.forall(_._3 == 0L))
    // window=4 leads per rotation: every doc pairs with its 4 successors —
    // enough edges that connected components recover the full clone set
    val nodes = chainPairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(nodes == (1L to 12L).toSet, s"missing clone nodes: $nodes")
    assert(chainPairs.map(p => (p._1, p._2)).toSet
      .intersect((1L to 11L).map(i => (i, i + 1)).toSet).size == 11,
      "consecutive clone chain must be complete")

    // a planted near-dup pair and an unrelated doc
    val docs = docsDf(Seq(1L -> base, 2L -> nearDup, 3L -> other))
    val got = Dedup.simhashSortedNeighborPairs(docs, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)))

    // candidate quality vs the banding generator on the sf0.001 corpus,
    // measured on TRUE near-dups (hamming <= 3 — real clone/edit pairs).
    // The hamming-8..10 tail of d6's output is random-signature
    // background a 16-neighbor scan rightly ignores; a <=3-bit pair has
    // a clean byte, hence a rotation that sorts it adjacently, so the
    // sorted neighborhood must recover nearly all of them
    // (deterministic fixture + algorithm → fixed ratio).
    val corpus = graft.sources.Catalog.documents(spark, "/root/testdata/sf0.001")
    val banded = Dedup.simhashCandidatePairs(corpus, 4, 10)
      .filter(col("hamming") <= 3)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sorted = Dedup.simhashSortedNeighborPairs(corpus, 10)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (banded.nonEmpty) {
      val recall = banded.intersect(sorted).size.toDouble / banded.size
      assert(recall >= 0.8, f"sorted-neighborhood recall on hamming<=3 pairs: $recall%.2f")
    }
  }

  test("simhashRepPairs: expanding rep-level pairs through clone groups reproduces d6 exactly") {
    // a clone-heavy corpus: 3 texts (two near-dup, one unrelated), with
    // clone groups of size 4, 3, and 1
    val nearDup = base + " postscript"
    val other = "completely different content about spark catalyst optimizer rules and physical plans here today"
    val docs = docsDf(
      (1L to 4L).map(i => i -> base) ++
      (10L to 12L).map(i => i -> nearDup) ++
      Seq(20L -> other))
    val expanded = Dedup.simhashCandidatePairs(docs, 4, 10)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rep = Dedup.simhashRepPairs(docs, 4, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // expand every rep row through its clone-group membership
    val members = Map(1L -> (1L to 4L).toSeq, 10L -> (10L to 12L).toSeq, 20L -> Seq(20L))
    val reExpanded = rep.flatMap { case (d1, d2, _, n) =>
      val ps =
        if (d1 == d2) members(d1).combinations(2).map(p => (p(0), p(1))).toSeq
        else for (a <- members(d1); b <- members(d2))
          yield (math.min(a, b), math.max(a, b))
      assert(ps.size == n, s"multiplicity mismatch on ($d1,$d2): ${ps.size} != $n")
      ps
    }.toSet
    assert(reExpanded == expanded)
    // output volume is clone-count-independent: at most 1 cross row + 2
    // intra rows at rep level, vs ≥9 expanded pairs (6 + 3 intra alone)
    assert(rep.length <= 3 && expanded.size >= 9)
    assert(rep.length < expanded.size)
  }

  test("sortedNeighborEditPairs: subset of blocked pairs, recalls prefix AND suffix typos") {
    import spark.implicits._
    import scala.util.Random
    val rnd = new Random(11)
    def randName() = Seq.fill(12)(('a' + rnd.nextInt(26)).toChar).mkString
    // one big block (> window distinct names): 160 base names, 20 planted
    // suffix-edit variants (forward-sort-adjacent) and 20 planted
    // prefix-edit variants (reversed-sort-adjacent)
    val bases = Iterator.continually(randName()).distinct.take(160).toSeq
    def flip(c: Char) = if (c == 'z') 'y' else 'z' // never the identity
    val suffixPairs = bases.slice(0, 20).zipWithIndex.map { case (n, i) =>
      (1000L + i, n.dropRight(1) + flip(n.last)) }
    val prefixPairs = bases.slice(20, 40).zipWithIndex.map { case (n, i) =>
      (2000L + i, flip(n.head) + n.drop(1)) }
    val df = (bases.zipWithIndex.map { case (n, i) => (i.toLong, n) } ++
      suffixPairs ++ prefixPairs).toDF("id", "name")
    val blockCols = Seq(lit("b"))
    val snm = Dedup.sortedNeighborEditPairs(df, "id", "name", blockCols, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blocked = Dedup.blockedEditDistancePairs(df, "id", "name", blockCols, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // soundness: SNM never emits a pair the full blocked join would not
    assert(snm.subsetOf(blocked))
    // recall: every planted suffix-edit pair shares an 11-char prefix
    // with its base (forward-adjacent), every prefix-edit pair an
    // 11-char suffix (reversed-adjacent) — all 40 must be recovered
    val recalledSuffix = (0 until 20).count(i => snm.contains((i.toLong, 1000L + i, 1)))
    val recalledPrefix = (0 until 20).count(i => snm.contains((20L + i, 2000L + i, 1)))
    assert(recalledSuffix == 20, s"suffix-edit recall $recalledSuffix/20")
    assert(recalledPrefix == 20, s"prefix-edit recall $recalledPrefix/20")
  }

  test("sortedNeighborRepPairs: expanding rep pairs through name groups reproduces d15 exactly") {
    import spark.implicits._
    // clone-heavy frame, one block: name A ×4, near-name B ×3 (dist 1),
    // far name C ×1 (dist > maxDist)
    val a = "lemon chocolate powder"; val b = "lemon chocolate powdez"
    val c = "lemon chocolate zzzzzz"
    val df = ((1L to 4L).map(i => (i, a)) ++ (10L to 12L).map(i => (i, b)) ++
      Seq((20L, c))).toDF("id", "name")
    val blockCols = Seq(split(col("name"), " ").getItem(0))
    val expanded = Dedup.sortedNeighborEditPairs(df, "id", "name", blockCols, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rep = Dedup.sortedNeighborRepPairs(df, "id", "name", blockCols, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val members = Map(1L -> (1L to 4L).toSeq, 10L -> (10L to 12L).toSeq, 20L -> Seq(20L))
    val reExpanded = rep.flatMap { case (d1, d2, dist, n) =>
      val ps =
        if (d1 == d2) members(d1).combinations(2).map(p => (p(0), p(1))).toSeq
        else for (x <- members(d1); y <- members(d2))
          yield (math.min(x, y), math.max(x, y))
      assert(ps.size == n, s"multiplicity mismatch on ($d1,$d2): ${ps.size} != $n")
      ps.map { case (x, y) => (x, y, dist) }
    }.toSet
    assert(reExpanded == expanded)
    // rep output is clone-count-independent: 1 cross + 2 intra rows vs
    // 12 cross + 6 + 3 intra expanded pairs
    assert(rep.length == 3 && expanded.size == 21)
  }

  test("cdcChunkDedup: boundaries resynchronize after a leading insertion (d9 does not)") {
    // a long synthetic doc (enough tokens for several CDC cuts), and the
    // same doc with ONE token prepended — the edit that shifts every
    // fixed-stride chunk but only the first content-defined chunk(s)
    val words = (0 until 400).map(i => s"w${i % 57}tok$i")
    val doc = words.mkString(" ")
    val shifted = "inserted " + doc
    val docs = docsDf(Seq(1L -> doc, 2L -> shifted))

    val cdc = Dedup.cdcChunkDedup(docs)
    val fps1 = cdc.filter(col("doc_id") === 1L).select("fp").collect().map(_.getString(0)).toSet
    val fps2 = cdc.filter(col("doc_id") === 2L).select("fp").collect().map(_.getString(0)).toSet
    assert(fps1.size > 5, s"expected several chunks, got ${fps1.size}")
    val sharedCdc = (fps1 intersect fps2).size.toDouble / fps1.size
    assert(sharedCdc > 0.8,
      s"CDC chunks must survive a leading insertion (shared=$sharedCdc)")

    // the fixed-stride pipeline (d9's chunking) loses essentially all of
    // them on the same edit — this contrast is the operator's reason to exist
    def strideFps(id: Long) = {
      val toks = (if (id == 1L) doc else shifted).split(" ")
      toks.grouped(10).map(_.mkString(" ")).toSet
    }
    val sharedStride =
      (strideFps(1L) intersect strideFps(2L)).size.toDouble / strideFps(1L).size
    assert(sharedStride < 0.1,
      s"fixed-stride chunks should NOT survive the shift (shared=$sharedStride)")

    // stats contract: doc 2's chunks downstream of the edit are dups of
    // doc 1's canonical chunks
    val stats = Dedup.cdcChunkStats(docs)
      .filter(col("doc_id") === 2L).select("dup_frac").collect()(0).getDouble(0)
    assert(stats > 0.8, s"expected most of doc 2 flagged dup, got $stats")
  }

  test("ngramJaccardPairs confirms the planted pair above threshold") {
    val nearDup = base + " postscript"
    val docs = docsDf(Seq(1L -> base, 2L -> nearDup,
      3L -> "completely different content about spark catalyst optimizer rules and physical plans here today"))
    val out = Dedup.ngramJaccardPairs(docs, 0.5).collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1)) == (1L, 2L))
    assert(out(0).getDouble(2) > 0.5 && out(0).getDouble(2) < 1.0)
  }

  test("simhash: near-identical docs are close in hamming distance, unrelated docs far") {
    val docs = docsDf(Seq(
      1L -> base, 2L -> base.replace("warm", "hot"),
      3L -> "totally disjoint vocabulary discussing histogram profiles anomaly detection network flows telemetry"))
    val sh = docs.select(col("doc_id"), simhash(tokens(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    assert(ham(sh(1L), sh(2L)) <= 6) // 1-word edit flips few bits of 32
    // and the Column hammingDistance agrees with bitCount
    import spark.implicits._
    val hd = Seq((sh(1L), sh(3L))).toDF("a", "b")
      .select(Dedup.hammingDistance(col("a"), col("b"))).head().getLong(0)
    assert(hd == ham(sh(1L), sh(3L)))
  }

  test("simhashOf (codegen aggregate form) agrees with the row-local Column form") {
    val docs = docsDf(Seq(1L -> base, 2L -> (base + " postscript"),
      3L -> "totally disjoint vocabulary discussing histogram profiles anomaly detection"))
    val rowLocal = docs.select(col("doc_id"), simhash(tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashOf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg == rowLocal)
  }

  test("exact fingerprint ignores case and whitespace runs") {
    val docs = docsDf(Seq(1L -> "Hello   World", 2L -> "hello world ", 3L -> "hello worlds"))
    val fps = docs.select(exactFingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("brute-force kNN ranks an identical vector first") {
    import spark.implicits._
    val v = Array.tabulate(8)(i => 0.1f * (i + 1))
    val corpus = Seq(
      (10L, v.toSeq), (11L, v.map(_ * 2f).toSeq), // same direction → cos 1
      (12L, v.map(x => -x).toSeq), // opposite → cos -1
      (13L, Array.tabulate(8)(i => if (i == 0) 1f else 0f).toSeq),
    ).toDF("vec_id", "embedding")
    val queries = Seq((10L, v.toSeq)).toDF("vec_id", "embedding")
    val top = SimilaritySearch.bruteForceTopK(corpus, queries, 3).collect()
    assert(top(0).getLong(2) == 11L && top(0).getDouble(3) == 1.0) // rank 1: scaled copy
    assert(top.last.getLong(2) == 12L && top.last.getDouble(3) == -1.0)
  }

  test("LSH ANN buckets: identical-direction vectors share a bucket; results ⊆ brute-force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 50L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val planes = hyperplaneSigns(4, 16)
    val buckets = corpus.select(col("vec_id"), lshBucket(col("embedding"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(buckets.values.toSet.size > 1) // actually partitions the space
    val qs = corpus.filter(col("vec_id") < 3)
    val lsh = SimilaritySearch.lshTopK(corpus, qs, 5, 4, 16).collect()
    lsh.foreach { r => // every LSH neighbor shares its query's bucket
      assert(buckets(r.getLong(3)) == buckets(r.getLong(0)))
    }
  }

  test("multi-probe LSH recall dominates single-probe vs brute-force truth") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 120L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = hits(SimilaritySearch.bruteForceTopK(corpus, qs, 5)
      .select(col("query_id"), col("rank"), col("vec_id")))
    val single = hits(SimilaritySearch.lshTopKMultiProbe(corpus, qs, 5, 4, 16, nProbe = 1))
    val multi = hits(SimilaritySearch.lshTopKMultiProbe(corpus, qs, 5, 4, 16, nProbe = 3))
    val rSingle = (truth & single).size
    val rMulti = (truth & multi).size
    assert(rMulti >= rSingle, s"multi-probe recall $rMulti < single $rSingle")
    assert(rMulti > 0)
    // nProbe=1 must agree with the plain LSH path
    val plain = hits(SimilaritySearch.lshTopK(corpus, qs, 5, 4, 16)
      .select(col("query_id"), col("rank"), col("vec_id")))
    assert(single == plain)
  }

  test("int8 scalar quantization preserves exact top-1 on separated vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 60L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 8)
    val exact = SimilaritySearch.bruteForceTopK(corpus, qs, 10)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sq = SimilaritySearch.sqTopK(corpus, qs, 10, dim = 16)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // 256-level grid error is far below random-gaussian top-1 margins
    assert(sq == exact)
  }

  test("PQ codes pick the own-cluster centroid with zero error on separated clusters") {
    import spark.implicits._
    val a = Array.fill(16)(1.0f).toSeq
    val b = Array.fill(16)(-1.0f).toSeq
    val emb = ((0L until 10L).map(i => (i, a, 0)) ++ (10L until 20L).map(i => (i, b, 1)))
      .toDF("vec_id", "embedding", "label")
    val codes = SimilaritySearch.pqCodes(emb, "label", nSub = 4, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(codes.length == 20 * 4)
    codes.foreach { case (vec, _, code, err) =>
      assert(code == (if (vec < 10) 0L else 1L), s"vec $vec got code $code")
      assert(err == 0.0)
    }
  }

  test("language-ID scores function words deterministically") {
    val docs = docsDf(Seq(
      1L -> "the cat is on the mat and the dog is in the house",
      2L -> "der hund ist gross und die katze ist klein zu hause",
      3L -> "zzz qqq www")) // no function words → und
    val out = docs.select(col("doc_id"), predictLang(tokens(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "und")
  }

  test("sequence packing: per-bin token sum exceeds the budget by at most one doc") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val budget = 100L
    val rnd = new scala.util.Random(7)
    val docs = Seq.tabulate(200)(i => (i.toLong, "g", rnd.nextInt(40).toLong + 1))
      .toDF("doc_id", "lang", "n_tokens")
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = docs
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / budget).cast("long"))
    val perBin = binned.groupBy(col("bin"))
      .agg(sum(col("n_tokens")).as("total"), max(col("n_tokens")).as("biggest"))
      .collect()
    assert(perBin.nonEmpty)
    perBin.foreach { r =>
      assert(r.getLong(1) <= budget + r.getLong(2),
        s"bin ${r.getLong(0)} total ${r.getLong(1)} exceeds budget+biggest")
    }
  }

  private def pairsDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("doc1", "doc2")
  }

  test("lshBands (codegen MinhashSig kernel) is bit-identical to the SQL-expression reference pipeline on edge-case docs") {
    // The batch (posexplode + window-lead + 12 min-aggregate) lshBands is
    // gone — lshBands is the row-local kernel since r12 — so the equivalence
    // pin is a from-scratch reference built here out of ordinary SQL
    // expressions: HOF shingles → contentHash → per-permutation
    // min((a·h+b) mod m) aggregates → band structs. Nothing in it touches
    // the MinhashSig kernel, so a kernel bug cannot cancel out.
    val docs = docsDf(Seq(
      1L -> base, 2L -> (base + " postscript"), // the planted near-dup pair
      3L -> "only two", // < ShingleSize tokens: no signature in either form
      4L -> "", // empty text
      5L -> "  spaced   out   tokens   here  ", // separator runs
      6L -> base.toUpperCase)) // distinct content, same length
    val perms = Dedup.permsFor(Dedup.NumPerms)
    val rows = Dedup.NumPerms / Dedup.NumBands
    val mins = perms.zipWithIndex.map { case ((a, b), p) =>
      min((lit(a) * col("h") + lit(b)) % Dedup.HashMod).as(s"m$p")
    }
    val bands = (0 until Dedup.NumBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rows).map(r =>
          col(s"m${b * rows + r}").cast("string")): _*).as("bs"))
    }
    val reference = docs
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.shingles(
          graft.functions.TextFunctions.tokens(col("text")),
          Dedup.ShingleSize)).as("s"))
      .withColumn("h", Dedup.contentHash(col("s")))
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), explode(array(bands: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bs").as("sig"))
    val local = Dedup.lshBands(docs)
    assert(local.exceptAll(reference).count() == 0)
    assert(reference.exceptAll(local).count() == 0)
    // docs 3 and 4 produce no bands at all
    assert(local.filter(col("doc_id").isin(3L, 4L)).count() == 0)
  }

  test("exactSubstringSpans: shared-gram count tracks shared-span length; repeats and boilerplate don't distort") {
    // docs 1/2 share a verbatim 40-char span → 40-24+1 = 17 shared grams;
    // doc 3 repeats its own substring (row-local array_distinct must not
    // self-pair); docs 4..8 share only a boilerplate line that a tiny
    // maxBucket drops entirely
    val span = "0123456789abcdefghijklmnopqrstuvwxyzABCD" // 40 chars
    require(span.length == 40)
    val boiler = "COMMON-FOOTER-" + "x" * 24
    val docs = docsDf(Seq(
      1L -> ("left padA" + span + "Cright tail one"), // distinct boundary
      2L -> ("other prB" + span + "Ddifferent end!"), // chars on both sides
      3L -> (span.take(30) * 2), // 7 grams shared with 1/2 — below minShared
      4L -> ("aa " + boiler), 5L -> ("bb " + boiler), 6L -> ("cc " + boiler),
      7L -> ("dd " + boiler), 8L -> ("ee " + boiler)))
    val out = Dedup.exactSubstringSpans(docs, k = 24, minShared = 10,
      maxBucket = 3, hashGrams = true).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(2) == 17L) // 40-char span → 17 distinct 24-grams
    // hashed and literal gram keys agree on the verdict
    val lit = Dedup.exactSubstringSpans(docs, k = 24, minShared = 10,
      maxBucket = 3, hashGrams = false).collect()
    assert(lit.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("connectedComponents: chain, triangle, and isolated edge resolve to min labels") {
    // chain 1-2-3-4 (diameter 3, forces >1 contraction round), triangle
    // 10-11-12 with a redundant edge, isolated pair 20-21
    val pairs = pairsDf(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)))
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: edge direction and duplicates don't matter") {
    val cc = Dedup.connectedComponents(pairsDf(Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 5L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(3L -> 3L, 5L -> 3L, 7L -> 3L))
  }

  test("resolveDuplicates keeps the longest doc per component and all singletons") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short", 5L), (2L, "the longest document", 20L), (3L, "medium doc", 10L),
      (9L, "alone", 5L)).toDF("doc_id", "text", "n_chars")
    val out = Dedup.resolveDuplicates(docs, pairsDf(Seq((1L, 2L), (2L, 3L))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSet == Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (9L, 9L, 9L, true)))
  }

  test("coarseRerankTopK: high recall vs exact top-k, exact sims on survivors") {
    val emb = graft.sources.Catalog.embeddings(spark, SparkTestSession.sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // the fixture's embeddings are NOT matryoshka-trained, so the
    // prefix proxy needs half the dimensions (32 of 64) plus a 5%
    // shortlist to hold recall; front-loaded embeddings get away with
    // far less (that's the documented trade of prefix truncation)
    val staged = SimilaritySearch.coarseRerankTopK(emb, queries, 10,
        coarseDim = 32, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // survivors' sims are the EXACT full-dim cosine (stage 2 re-scores)
    val exactSims = exact.map(t => (t._1, t._2) -> t._3).toMap
    staged.foreach { case (q, v, sim) =>
      exactSims.get((q, v)).foreach(e => assert(math.abs(e - sim) < 1e-9)) }
    val recall = exact.groupBy(_._1).map { case (q, rows) =>
      val truth = rows.map(_._2).toSet
      val got = staged.filter(_._1 == q).map(_._2).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    // approximate-by-design: assert the aggregate recall contract (mean
    // ≥ 0.8) plus a floor per query, not perfection per query
    val mean = recall.sum / recall.size
    assert(mean >= 0.8, s"mean recall@10 $mean too low: ${recall.toSeq.sorted}")
    assert(recall.forall(_ >= 0.5), s"per-query floor breached: ${recall.toSeq.sorted}")
  }

  test("pqAdcTopK: self-retrieval at rank 1, k rows per query, adc ascending") {
    val emb = graft.sources.Catalog.embeddings(spark, SparkTestSession.sfDir)
    val out = SimilaritySearch.pqAdcTopK(emb, emb.filter(col("vec_id") < 5),
        "label", k = 5, nSub = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byQuery = out.groupBy(_._1)
    assert(byQuery.keySet == (0L until 5L).toSet && byQuery.values.forall(_.length == 5))
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      // a corpus vector's quantized distance to its own query vector is
      // minimal — rank 1 must be the query itself
      assert(sorted.head._2 == q, s"query $q should self-retrieve")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq, "adc ascending")
    }
  }

  test("gopherFlags: each rule fires on its targeted degenerate document") {
    import spark.implicits._
    val good = (("the quick brown fox jumps over a lazy dog and " * 6) + "ends here").trim
    val docs = Seq(
      1L -> good,                                          // passes everything
      2L -> "too short",                                   // word count
      3L -> ("supercalifragilisticexpialidocious " * 60).trim, // mean word len, stopwords
      4L -> (("the and of " * 20) + "# ## ### #### ##### ###### ####### ########").trim, // symbol ratio
      5L -> (1 to 10).map(i => s"- the bullet item $i of a list").mkString("\n"), // bullets
      6L -> (("the a of and is " * 12).trim.split(" ").grouped(6).map(_.mkString(" ") + "...").mkString("\n")), // ellipses
      7L -> (("123 456 789 0 " * 15) + "the a of").trim)   // alpha words
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        graft.functions.TextFunctions.gopherFlags(col("text"),
          graft.functions.TextFunctions.tokens(col("text")), minWords = 10).as("g"))
      .select(col("doc_id"), col("g.*"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
      .toMap
    assert(out(1L) == (1, 1, 1, 1, 1, 1, 1))
    assert(out(2L)._1 == 0, "word count")
    assert(out(3L)._2 == 0 && out(3L)._7 == 0, "mean word length + stopwords")
    assert(out(4L)._3 == 0, "symbol ratio")
    assert(out(5L)._4 == 0, "bullet lines")
    assert(out(6L)._5 == 0, "ellipsis lines")
    assert(out(7L)._6 == 0, "alpha words")
  }

  test("copurchasePairs drops degenerate baskets past the size cap") {
    import spark.implicits._
    // order 1: a plain 3-item basket → 3 pairs; order 2: a degenerate
    // 100-item basket that would expand to C(100,2)=4950 pairs — the
    // window guard must drop it entirely before the self-join
    val normal = Seq((1L, 10L), (1L, 11L), (1L, 12L))
    val degenerate = (0L until 100L).map(i => (2L, 1000L + i))
    val li = (normal ++ degenerate).toDF("l_orderkey", "l_partkey")
    val pairs = graft.queries.AnalyticsQueries.copurchasePairs(li, maxBasket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((10L, 11L), (10L, 12L), (11L, 12L)))
    // and with a cap above the basket size, the big basket contributes
    val uncapped = graft.queries.AnalyticsQueries.copurchasePairs(li, maxBasket = 128)
    assert(uncapped.count() == 3 + 4950)
  }

  test("winnowedSubstringSpans: a w+k-1-char shared span surfaces; selection is a sparse subset of all grams") {
    val span = "ABCDEFGHIJKLMNOPQRSTUVWXYZ012345" // 32 chars = w+k-1 at k=24, w=9
    val docs = docsDf(Seq(
      1L -> (("left filler text one two three " * 3) + span + " trailing content here"),
      2L -> ("completely other prefix words " + span + (" other suffix padding " * 3)),
      3L -> ("unrelated document with nothing in common at all with the others " * 2)))
    // the winnowing guarantee: ANY shared span of >= w+k-1 chars contains a
    // full selection window, so the pair must surface at minShared=1
    val out = Dedup.winnowedSubstringSpans(docs, k = 24, w = 9, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
    // selected fingerprints are a sparse SUBSET of the full gram-hash set
    // (same rolling-hash key space — the d11 compatibility contract)
    def arrCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.graft.ColumnBridge.column(e)
    def expr(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.ColumnBridge.expression(c)
    val both = docs.select(
        arrCol(graft.expressions.KGramHashes(expr(col("text")), 24)).as("all"),
        arrCol(graft.expressions.WinnowedGramHashes(expr(col("text")), 24, 9)).as("sel"))
      .collect()
    both.foreach { r =>
      val all = r.getSeq[Long](0).toSet
      val sel = r.getSeq[Long](1).toSet
      assert(sel.subsetOf(all))
      assert(sel.nonEmpty && sel.size < all.size)
      // density near 2/(w+1) = 0.2 (loose bound; text is non-adversarial)
      assert(sel.size.toDouble / all.size < 0.5)
    }
  }

  test("dupSpanFraction: span-sharing docs flagged, unique docs at 0, invariants hold") {
    val span = "ABCDEFGHIJKLMNOPQRSTUVWXYZ012345" // 32 chars >= w+k-1
    val docs = docsDf(Seq(
      1L -> (("left filler text one two three " * 3) + span + " trailing content here"),
      2L -> ("completely other prefix words " + span + (" other suffix padding " * 3)),
      3L -> ("unrelated document with nothing in common at all with the others " * 2)))
    val out = Dedup.dupSpanFraction(docs, k = 24, w = 9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // the guaranteed-colliding span marks both docs, the unrelated one stays clean
    assert(out(1L)._2 > 0 && out(2L)._2 > 0)
    assert(out(3L)._2 == 0 && out(3L)._3 == 0.0)
    // invariants: 0 <= n_shared <= n_spans, frac = n_shared/n_spans (6 dp)
    out.values.foreach { case (n, s, f) =>
      assert(s >= 0 && s <= n)
      assert(math.abs(f - math.rint(s.toDouble / n * 1e6) / 1e6) < 1e-9)
    }
    // consistency with the pair contract: every doc in a d18 pair has dup_frac > 0
    val paired = Dedup.winnowedSubstringSpans(docs, k = 24, w = 9, minShared = 1)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    paired.foreach(id => assert(out(id)._3 > 0.0))
  }

  test("spanContainmentPairs: quote-in-document detected where Jaccard is tiny, orientation correct") {
    val quote = "THE-QUOTED-PARAGRAPH-ABCDEFGHIJKLMNOPQRSTUVWXYZ-0123456789-END" // 63 chars
    val big = ("unrelated preamble content words here " * 12) + quote +
      (" much more trailing body text that goes on and on " * 12)
    val docs = docsDf(Seq(
      1L -> quote,                            // the small doc IS the quote
      2L -> big,                              // contains it verbatim
      3L -> ("completely different text with nothing shared at all " * 8)))
    val out = Dedup.spanContainmentPairs(docs, k = 24, w = 9,
        minShared = 1, minContainment = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // exactly the (quote, container) pair; doc 3 never pairs
    assert(out.keySet == Set((1L, 2L)), s"got $out")
    val (shared, cA, cB) = out((1L, 2L))
    assert(shared >= 1)
    assert(cA >= 0.8, s"quote side should be (near-)fully contained: $cA")
    assert(cB < 0.5, s"container side must stay low: $cB")
    // and the symmetric union-normalized score would have REJECTED it:
    // shared / (nA + nB - shared) is far below the containment threshold
    val n = Dedup.spanContainmentPairs(docs, k = 24, w = 9,
        minShared = 1, minContainment = 0.0)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .select((col("shared_grams") /
        (col("shared_grams") / col("containment_a") +
         col("shared_grams") / col("containment_b") - col("shared_grams"))).as("jac"))
      .head().getDouble(0)
    assert(n < 0.5, s"jaccard-style score should be small, got $n")
  }

  test("t35 perplexity filter: conforming docs keep, off-model docs drop, empty reference is a no-op") {
    import spark.implicits._
    // reference LM: a fixed 40-word cycle repeated — every in-cycle bigram
    // is near-certain under the trained model (P ≈ (c+1)/(c+40)), and any
    // OTHER bigram has P = 1/(cu+40), i.e. -logp = ln(cu+40) > 3.45 nats
    val vocab = (0 until 40).map(i => s"w$i")
    val cycle = (vocab ++ vocab ++ vocab).mkString(" ") // 3 cycles per doc
    val junk = (0 until 119).map(i => vocab((i * 17) % 40)).mkString(" ") // stride-17 shuffle
    def run(rows: Seq[(Long, String, String)]) = {
      val dir = ScratchDirs.create("t35_")
      rows.toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
      SparkEntry.queries("t35_perplexity_filter")(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    }
    val out = run(Seq.tabulate(10)(i => (i.toLong, cycle, "en")) ++ Seq(
      (100L, cycle, "de"),       // conforming non-reference doc → keep
      (101L, junk, "de")))       // off-model bigrams → drop
    assert(out.size == 12)
    assert(out(100L)._3 == 1, s"conforming doc dropped: ${out(100L)}")
    assert(out(101L)._3 == 0, s"junk doc kept: ${out(101L)}")
    out.filter(_._1 < 100).values.foreach { case (n, _, keep) =>
      assert(n > 0 && keep == 1) // the reference slice itself conforms
    }
    // stride-17 junk shares NO bigram with the cycle (every cycle bigram
    // steps +1 mod 40), so each of its bigrams scores ln(cu+40): verify
    // the score separation is structural, not marginal
    assert(-out(101L)._2 / math.max(out(101L)._1, 1L) >
      2 * -out(100L)._2 / math.max(out(100L)._1, 1L))
    // no reference docs at all → defined no-op LM: everything keeps
    val none = run(Seq((1L, cycle, "de"), (2L, junk, "fr")))
    assert(none.values.forall(v => v._3 == 1 && v._2 == 0L))
  }

  test("semanticDedup: in-cluster near-dups drop, seniors and distant members survive") {
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // two well-separated directions; each holds a planted near-dup pair
    // (cos ≈ 0.999) plus one member below the 0.9 threshold (cos ≈ 0.62)
    val rows = Seq(
      1L -> v(1, 0, 0, 0),
      2L -> v(0.98, 0.05, 0, 0), // ≈ id 1 → dropped (senior 1 kept)
      3L -> v(0.6, 0, 0.75, 0), // same cluster, cos(1,3)=0.62 → kept
      10L -> v(0, 1, 0, 0),
      11L -> v(0.03, 0.97, 0, 0), // ≈ id 10 → dropped
      12L -> v(0, 0.6, 0, 0.75)) // kept
    val df = rows.toDF("vec_id", "embedding")
    val out = SimilaritySearch.semanticDedup(df, tau = 0.9, k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == rows.map(_._1).toSet) // full population, one row per id
    val kept = out.collect { case (id, (_, 1L)) => id }.toSet
    assert(kept == Set(1L, 3L, 10L, 12L))
    // each planted pair shares a cluster; the two directions don't
    assert(out(1L)._1 == out(2L)._1 && out(10L)._1 == out(11L)._1)
    assert(out(1L)._1 != out(10L)._1)
    // adaptive k rule: exact integer ceil(n/target), floored at 2
    assert(SimilaritySearch.adaptivePlaneCount(0, 128) == 4) // existing rule untouched
    val adaptive = SimilaritySearch.semanticDedupAdaptive(df, tau = 0.9, targetCluster = 3)
    assert(adaptive.select("vec_id").distinct().count() == rows.size)
  }
}
